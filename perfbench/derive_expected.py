#!/usr/bin/env python3
"""Derive the expected output of every workload query from its DuckDB oracle.

Usage (from the root of a source checkout):

    python3 perfbench/derive_expected.py [sf0.001 ...]

For each data set under perfbench/data, runs `SparkEntry.oracleSql` of
every workload query in DuckDB over that data set's tables and stores
the sorted column names, the row count and the sha256 of the rows,
canonicalized by tools/check.py's comparator, in
perfbench/expected/<data set>.json.
Run it again only when a workload's query list, an oracle or a data set
changes.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def oracles():
    jars = run.spark_jars()
    classes = run.build(os.path.join(run.ROOT, ".bench_build", "perfbench"), jars)
    out = os.path.join(run.ROOT, ".bench_work", "oracle_sql.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join(classes + [os.path.join(jars, "*")]),
                    "perfbench.Harness", "--mode", "oracle", "--out", out], check=True)
    with open(out) as f:
        return json.load(f)


def derive(data_set, sql):
    import duckdb
    con = duckdb.connect()
    data = os.path.join(run.BENCH, "data", data_set)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    expected = {}
    for name, q in sorted(sql.items()):
        if q is None:
            raise SystemExit(f"{name} has no oracle; it cannot be a workload query")
        want = run.expectation(con.sql(q).df())
        if not want["rows"]:
            # an empty expected result makes a weak check: refuse it on
            # the data set the benchmark measures, allow it on the smoke set
            if data_set == run.DATA:
                raise SystemExit(f"{name}: the oracle returns 0 rows on {data_set}")
            print(f"warning: {name}: the oracle returns 0 rows on {data_set}")
        expected[name] = want
        print(f"{data_set} {name}: {want['rows']} rows")
    con.close()
    path = os.path.join(run.BENCH, "expected", data_set + ".json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sql = oracles()
    for ds in sys.argv[1:] or sorted(os.listdir(os.path.join(run.BENCH, "data"))):
        derive(ds, sql)
