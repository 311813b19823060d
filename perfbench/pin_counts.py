#!/usr/bin/env python3
"""Re-derives perfbench/expected_counts.json, the pinned row count of
every panel query on the benchmark fixture.

    python3 perfbench/pin_counts.py

Where a query has a DuckDB oracle (SparkEntry.oracleSql), the pinned
count is the oracle's, and it must equal Spark's; otherwise it is
Spark's count at the commit that pins it. Run it only when the fixture
generator or the panel changes, and commit the result.
"""
import json
import os
import subprocess
import sys

import duckdb

import run as bench


def main():
    os.makedirs(bench.OUT, exist_ok=True)
    cp = bench.build()
    fixture = os.path.join(bench.OUT, "fixture")
    dump = os.path.join(bench.OUT, "pin.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    if subprocess.run([java] + bench.JVM_OPTS + ["-cp", cp, "graft.perfbench.Pin", fixture, dump],
                      stdout=sys.stderr).returncode != 0:
        sys.exit("graft.perfbench.Pin failed")
    con = duckdb.connect()
    for f in sorted(os.listdir(fixture)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{fixture}/{f}')")
    pinned, source, bad = {}, {}, []
    for q, r in sorted(json.load(open(dump)).items()):
        if r["oracle_sql"] is None:
            pinned[q], source[q] = r["spark_rows"], "spark"
            continue
        n = len(con.execute(r["oracle_sql"]).fetchall())
        pinned[q], source[q] = n, "duckdb oracle"
        if n != r["spark_rows"]:
            bad.append(f"{q}: oracle {n} rows, spark {r['spark_rows']}")
    if bad:
        sys.exit("row counts disagree:\n  " + "\n  ".join(bad))
    with open(os.path.join(bench.HERE, "expected_counts.json"), "w") as f:
        json.dump({"_source": source, **pinned}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
