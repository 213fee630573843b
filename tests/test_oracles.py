"""Driver-contract conformance: every __spark_entry__ query runs, and
each oracled query matches DuckDB at sf0.001 (the driver runs the same
comparison at sf0.01)."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), ignore_index=True)


ORACLED = sorted(entrymod.oracle_sql())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(ORACLED))


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    got = normalize(entrymod.queries()[name](spark, SF_DIR).toPandas())
    want = normalize(duck.execute(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    assert got.equals(want), f"{name}: value mismatch"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0
    # deterministic: second run produces identical rows
    a = sorted(map(tuple, df.toPandas().itertuples(index=False)))
    b = sorted(map(tuple, entrymod.queries()[name](spark, SF_DIR).toPandas().itertuples(index=False)))
    assert a == b


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"doc_id", "n_tables", "n_spans", "accuracy", "whitespace"} <= set(df.columns)
    assert all(r["n_tables"] >= 1 for r in rows)


def test_load_binds_each_session_and_pins_utc(spark):
    """_load memoizes handles per session: a second session of the same
    application gets a DataFrame bound to itself, and is put on UTC."""
    entrymod._load(spark, SF_DIR, "documents")
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/New_York")
    df = entrymod._load(other, SF_DIR, "documents")
    assert df.sparkSession is other
    assert other.conf.get("spark.sql.session.timeZone") == "UTC"


def _count_builds(spark, paths_of, sf_dirs):
    builds = []

    def build():
        builds.append(1)
        return spark.range(1)

    for sf in sf_dirs:
        assert entrymod._shared_prefix(paths_of(sf), spark, sf, build).count() == 1
    return len(builds)


def test_shared_prefix_rebuilds_fixed_path_per_sf_dir_change(spark, tmp_path):
    """One fixed path (the sink queries' oracle path) holds one sf_dir's
    prefix at a time: A, B, A builds three times."""
    a, b = str(tmp_path / "A"), str(tmp_path / "B")
    fixed = str(tmp_path / "prefix")
    assert _count_builds(spark, lambda sf: fixed, [a, b, a]) == 3


def test_shared_prefix_keeps_each_prefix_path(spark, tmp_path):
    """``_prefix_path`` hashes the sf_dir in, so A, B, A builds twice:
    returning to A reads A's parquet again. Once the cleanup has removed
    the directories, A builds again."""
    a, b = str(tmp_path / "A"), str(tmp_path / "B")

    def paths_of(sf):
        return entrymod._prefix_path("unittest_count", sf)

    assert _count_builds(spark, paths_of, [a, b, a]) == 2
    entrymod._cleanup_prefix_caches()
    assert _count_builds(spark, paths_of, [a]) == 1
