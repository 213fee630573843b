"""End-to-end curation job: composed steps over a crafted corpus,
one snapshot per run, per-step doc counts in the commit metrics."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _corpus(spark):
    good = ("the quick brown fox jumps over the lazy dog and then "
            "the other animals watch with great interest indeed")
    rows = []
    for i in range(20):
        rows.append((i, good + " doc%d" % i, "en", "src", 100))
    rows.append((100, rows[0][1], "en", "src", 100))      # exact dup of doc 0
    rows.append((200, "zz qq xx", "en", "src", 8))        # low quality
    rows.append((300, good + " unique", "fr", "src", 100))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")


def _args(*argv):
    """curate_job's parsed command line for ``argv`` (input and output
    are unused: the tests hand apply_steps a DataFrame)."""
    from jobs.curate_job import parse_args

    return parse_args(["--input", "unused", "--output", "unused", *argv])


def test_curate_job_steps_and_snapshot(spark, tmp_path):
    from camelot_spark.snapshots import SnapshotLog
    from jobs.curate_job import apply_steps

    args = _args("--steps", "quality,dedup_exact,sample",
                 "--sample-rates", "en=1000000,fr=0")
    docs = _corpus(spark)
    curated, report = apply_steps(spark, docs, args)
    by_step = {r["step"]: r["docs"] for r in report}
    assert by_step["input"] == 23
    assert by_step["quality"] == 22          # low-quality doc dropped
    assert by_step["dedup_exact"] == 21      # exact dup dropped
    assert by_step["sample"] == 20           # fr rate 0 -> doc 300 dropped
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert 200 not in ids and 300 not in ids
    assert 0 in ids and 100 not in ids       # keep-first exact dedup

    out = str(tmp_path / "curated")
    log = SnapshotLog(out)
    m = log.append(curated, metrics={"steps": report})
    assert m["version"] == 1 and log.read(spark).count() == 20
    assert log.latest()["metrics"]["steps"][0]["step"] == "input"


def test_curate_strip_substr_step(spark):
    from jobs.curate_job import apply_steps

    lic = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz01234567"
    rows = [(1, "intro one two three four five six seven " + lic, "en", "s", 100),
            (2, lic + " totally different tail content here now", "en", "s", 100)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    args = _args("--steps", "strip_substr", "--substr-k", "20")
    curated, _ = apply_steps(spark, docs, args)
    texts = {r["doc_id"]: r["text"] for r in curated.collect()}
    assert lic in texts[1]                    # canonical copy survives
    assert lic not in texts[2]                # duplicate region cut
    assert "totally different tail" in texts[2]


def test_spark_submit_curate_end_to_end(spark, tmp_path, monkeypatch):
    """The TDP deployment shape, run for real: `spark-submit --py-files`
    from a neutral cwd drives the curation job and commits exactly one
    snapshot with the per-step audit trail."""
    import json
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp, outp = str(tmp_path / "docs"), str(tmp_path / "curated")
    _corpus(spark).write.parquet(inp)

    subprocess.run([sys.executable, os.path.join(repo, "tools", "package.py")],
                   check=True, capture_output=True)
    zip_path = os.path.join(repo, "dist", "camelot_spark.zip")
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark
        spark_submit = os.path.join(os.path.dirname(pyspark.__file__),
                                    "bin", "spark-submit")
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(repo, "jobs", "curate_job.py"),
         "--input", inp, "--output", outp,
         "--steps", "quality,dedup_exact,sample",
         "--min-quality", "300",
         "--sample-rates", "en=1000000,fr=0",
         "--shards-output", str(tmp_path / "shards"),
         "--n-shards", "4"],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    status = json.loads([ln for ln in proc.stdout.splitlines()
                         if ln.startswith("{")][-1])
    assert status["status"] == "ok" and status["version"] == 1
    assert [s["docs"] for s in status["steps"]] == [23, 22, 21, 20]

    from camelot_spark.snapshots import SnapshotLog

    log = SnapshotLog(outp)
    assert log.latest()["snapshot_id"] == status["snapshot_id"]
    assert log.read(spark).count() == 20

    # the shard export materialized every curated doc exactly once,
    # partitioned by shard and sorted by order_key within each
    shards = spark.read.parquet(str(tmp_path / "shards"))
    assert shards.count() == 20
    assert all(0 <= r["shard"] < 4 for r in
               shards.select("shard").distinct().collect())
    from camelot_spark.tdp import sampling
    monkeypatch.setattr(sampling, "_N_SHARDS", 4)  # the job's --n-shards
    want = {r["doc_id"]: r["shard"] for r in
            sampling.shuffle_shards(log.read(spark)).collect()}
    got = {r["doc_id"]: r["shard"] for r in
           shards.select("doc_id", "shard").collect()}
    assert got == want


def test_curate_classifier_step(spark):
    """The learned Rocchio gate keeps fluent (stopword-rich) docs and
    drops keyword-soup docs on a separable corpus."""
    from jobs.curate_job import apply_steps

    fluent = "the cat of the house is on the mat and in the sun with a hat"
    soup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, fluent + f" extra{i}", "en", "web", 0) for i in range(8)] + \
           [(100 + i, soup + f" junk{i}", "en", "web", 0) for i in range(8)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    args = _args("--steps", "classifier")
    curated, report = apply_steps(spark, docs, args)
    kept = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert kept == set(range(8))           # fluent kept, soup dropped
    assert report[-1] == {"step": "classifier", "docs": 8}


def test_curate_classifier_skips_one_class_corpus(spark):
    """A corpus whose weak label never fires (e.g. no English
    stopwords) must NOT be mass-filtered by a degenerate one-class
    model — the step skips and says so in the report."""
    from jobs.curate_job import apply_steps

    rows = [(i, f"alpha beta gamma delta tok{i}", "xx", "web", 0)
            for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    args = _args("--steps", "classifier")
    curated, report = apply_steps(spark, docs, args)
    assert curated.count() == 10                     # nothing dropped
    assert {"step": "classifier_skipped_one_class", "docs": -1} in report


def test_curate_classifier_passes_through_tokenless_docs(spark):
    """Docs with no prediction row (no tokens) must survive the
    classifier step — the model never decided on them."""
    from jobs.curate_job import apply_steps

    fluent = "the cat of the house is on the mat and in the sun"
    soup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, fluent, "en", "web", 0), (2, soup, "en", "web", 0),
            (3, "", "en", "web", 0)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    args = _args("--steps", "classifier")
    curated, _ = apply_steps(spark, docs, args)
    kept = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert 3 in kept          # tokenless doc passes through
    assert 1 in kept and 2 not in kept


def test_curate_split_step_annotates_without_filtering(spark):
    """The split step adds the deterministic train/val/test bucket to
    every surviving doc, drops none, and matches dataset_split's
    assignment for the same ppm config."""
    from camelot_spark.tdp.sampling import split_expr
    from jobs.curate_job import apply_steps

    args = _args("--steps", "split", "--train-ppm", "600000",
                 "--val-ppm", "200000")
    docs = _corpus(spark)
    curated, report = apply_steps(spark, docs, args)
    assert {r["step"]: r["docs"] for r in report}["split"] == 23
    got = {r["doc_id"]: r["split"] for r in curated.collect()}
    want = {r["doc_id"]: r["split"] for r in docs.select(
        "doc_id", split_expr("doc_id", 600_000, 200_000).alias("split")).collect()}
    assert got == want


def test_curate_boilerplate_and_ppl_mix_steps(spark):
    """boilerplate strikes the shared per-source gram from every doc's
    text in place; ppl_mix drops only docs the mixer DECIDED to drop
    (kept=0) — no-bigram docs pass through."""
    from pyspark.sql import functions as F

    from jobs.curate_job import apply_steps

    docs = _corpus(spark)
    curated, report = apply_steps(spark, docs, _args("--steps", "boilerplate"))
    assert curated.count() == 23             # annotating edit, no drops
    # the shared "good" prefix grams clear 50% df within src -> struck
    texts = {r["doc_id"]: r["text"] for r in curated.collect()}
    assert "quick brown fox" not in texts[0]
    assert texts[0].endswith("doc0")         # per-doc tail survives

    all_kept, _ = apply_steps(spark, docs, _args(
        "--steps", "ppl_mix", "--ppl-rates", "1000000,1000000,1000000"))
    assert all_kept.count() == 23            # rate 1e6 keeps everything

    none_kept, _ = apply_steps(spark, docs, _args(
        "--steps", "ppl_mix", "--ppl-rates", "0,0,0"))
    # every doc with bigrams dropped; none have <2 tokens here
    assert none_kept.count() == 0


def test_maintain_job_compact_expire_orphans(spark, tmp_path):
    """The maintenance job compacts the live data into one replacing
    snapshot, expires old manifests, and removes orphan dirs — with
    row counts preserved end to end and the audit report accurate."""
    import json
    import os

    from camelot_spark.snapshots import SnapshotLog
    from jobs.maintain_job import main

    out = str(tmp_path / "t")
    log = SnapshotLog(out)
    docs = _corpus(spark)
    for i in range(3):  # a 3-version chain of small appends
        log.append(docs.where(docs.doc_id % 3 == i))
    n = log.read(spark).count()
    # plant an orphan (crashed-writer dir, no manifest references it)
    orphan = os.path.join(out, "data", "orphan-123")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "wb").write(b"junk")

    import io
    from contextlib import redirect_stdout

    # dry-run first: full preview, ZERO mutation
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["--table", out, "--steps", "compact,expire,orphans",
                   "--keep-last", "2", "--dry-run"])
    assert rc == 0
    rep = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["dry_run"] is True
    assert rep["would_expire_versions"] == [1]
    assert rep["orphans_found"] == [orphan]
    assert rep["version_after"] == 3 and os.path.exists(orphan)
    assert "compacted_version" not in rep

    # a typo'd step list aborts BEFORE anything runs
    import pytest
    with pytest.raises(SystemExit):
        main(["--table", out, "--steps", "compact,expires"])
    assert log.latest()["version"] == 3

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["--table", out, "--steps", "compact,expire,orphans",
                   "--keep-last", "2", "--target-partitions", "2",
                   "--count-rows"])
    assert rc == 0
    rep = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["status"] == "ok"
    assert rep["version_before"] == 3
    assert rep["compacted_version"] == 4
    # keep-last 2 of versions [1,2,3,4] -> 1 and 2 expired
    assert rep["expired_versions"] == [1, 2]
    assert rep["orphans_removed"] == [orphan]
    assert not os.path.exists(orphan)
    assert rep["rows"] == n == log.read(spark).count()
    # compaction replaced the chain tail: live data is the compacted
    # dir only, and the expired versions no longer time-travel
    assert rep["version_after"] == 4
    with pytest.raises(FileNotFoundError):
        log.manifest(1)


def test_maintain_job_reports_commit_conflict(spark, tmp_path, monkeypatch):
    """A concurrent append during compact surfaces as status=conflict
    with the audit line still printed and exit code 1 — never an
    unhandled traceback that loses the scheduler's record."""
    import io
    import json
    from contextlib import redirect_stdout

    from camelot_spark import snapshots as snap
    from camelot_spark.snapshots import SnapshotLog
    from jobs.maintain_job import main

    out = str(tmp_path / "t")
    SnapshotLog(out).append(_corpus(spark))

    def racing_compact(self, spark_, target_partitions=1, metrics=None):
        raise snap.CommitConflict("concurrent commit during compaction")

    monkeypatch.setattr(snap.SnapshotLog, "compact", racing_compact)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["--table", out, "--steps", "compact,expire"])
    assert rc == 1
    rep = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["status"] == "conflict"
    # expire did NOT run after the conflict (stop-mutating rule)
    assert "expired_versions" not in rep
    assert rep["version_after"] == 1


def test_jobs_pin_utc_through_job_session(spark):
    """Every job builds its session through pipeline.job_session, which
    turns AQE on and pins the session time zone to UTC even when the
    running session was set to another zone."""
    from camelot_spark.pipeline import job_session

    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        s = job_session("camelot-spark-probe")
        assert s.conf.get(key) == "UTC"
        assert s.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set(key, prev)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for job in ("extract_job", "curate_job", "maintain_job"):
        with open(os.path.join(repo, "jobs", f"{job}.py")) as f:
            src = f.read()
        assert "job_session(" in src and "SparkSession.builder" not in src, job
