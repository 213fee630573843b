"""Tests of `camelot_spark/tdp/dedup.py` against its DuckDB oracles."""

import os
import sys

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_kmv_estimate_matches_duckdb_oracle(spark):
    """Sources with 64 or more distinct texts take the estimate branch
    ((k-1)·M / h_k); both KMV variants must agree with
    ``KMV_DISTINCT_SQL`` there, not only on the exact-count branch."""
    from camelot_spark.tdp.dedup import KMV_DISTINCT_SQL, kmv_distinct, kmv_distinct_partial

    rows = [("big", f"document {i % 300} of the big source") for i in range(900)]
    rows += [("wide", f"w{i}") for i in range(64)]
    rows += [("small", f"short text {i % 5}") for i in range(40)]
    rows += [(None, f"unsourced {i}") for i in range(70)]
    table = pa.table({"doc_id": list(range(len(rows))),
                      "source": [s for s, _ in rows],
                      "text": [t for _, t in rows]})

    con = duckdb.connect()
    con.register("documents", table)
    want = sorted(con.execute(KMV_DISTINCT_SQL).fetchall(), key=repr)
    con.close()
    assert {s: est for s, est, _ in want}["small"] == 5
    assert sum(kth >= 0 for _, _, kth in want) == 3   # big, wide, NULL

    df = spark.createDataFrame(
        rows, "source string, text string").repartition(4)
    for fn in (kmv_distinct, kmv_distinct_partial):
        got = sorted((tuple(r) for r in fn(df).collect()), key=repr)
        assert got == want, fn.__name__
