"""Local stand-in for the driver's correctness gate: run each
__spark_entry__ query on Spark AND its oracle on DuckDB at sf0.01,
compare row-count + sorted values (column-name-sorted, like the driver).

Before the sweep it prints one ``registry sha256`` line: the hash of
the ``queries()`` keys in order plus every ``oracle_sql()`` string, so
two commits' registries compare by running this tool on each.

Usage: python tools/check_oracles.py [key ...]   (no keys = all)
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SF_DIR = "/root/testdata/sf0.01"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), ignore_index=True)


def registry_digest(queries: dict, oracles: dict) -> str:
    """sha256 over the query keys in registry order, then each oracle
    key and SQL string in key order."""
    h = hashlib.sha256()
    for name in queries:
        h.update(name.encode() + b"\0")
    for name in sorted(oracles):
        h.update(name.encode() + b"\0" + oracles[name].encode() + b"\0")
    return h.hexdigest()


def main(only: list[str] | None) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    print(f"registry sha256 {registry_digest(qs, oracles)}: "
          f"{len(qs)} keys, {len(oracles)} oracles", flush=True)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')"
        )

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (no oracle)")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(w.columns)}")
            failures += 1
        elif len(g) != len(w):
            print(f"FAIL  {name}: rowcount {len(g)} vs {len(w)}")
            failures += 1
        elif not g.equals(w):
            neq = (g != w).any(axis=1)
            print(f"FAIL  {name}: {int(neq.sum())} differing rows")
            print(pd.concat([g[neq].head(3).add_suffix("_spark"),
                             w[neq].head(3).add_suffix("_duck")], axis=1))
            failures += 1
        else:
            print(f"OK    {name}: {len(g)} rows")
    spark.stop()
    return failures


if __name__ == "__main__":
    only = sys.argv[1:] or None
    raise SystemExit(main(only))
