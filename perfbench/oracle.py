#!/usr/bin/env python3
"""Records the expected output of every benchmark query, validated against
the DuckDB oracle.

Usage: python3 perfbench/oracle.py

Runs each workload's queries once through the harness (`mode=check`), runs
each query's `SparkEntry.oracleSql` in DuckDB over the same parquet tables,
and compares the two the way `tools/check_oracle.py` does: columns sorted by
name, same row count, every value equal as a string. Only if every query
matches does it write `perfbench/expected.json`, the per-query hash of rows
and schema that `run.py` checks at the end of each run.
"""
import glob
import json
import os
import shutil
import sys
import time

import duckdb
import pandas as pd

import run


def frame(path):
    df = pd.read_parquet(sorted(glob.glob(os.path.join(path, "*.parquet")))[0])
    return df[sorted(df.columns)]


def main():
    classes = run.build.build()
    sf_dir = run.data_dir()
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

    expected, bad = {}, 0
    for workload, queries in run.WORKLOADS.items():
        run_dir = os.path.join(run.build.build_dir(), "runs", f"oracle-{workload}")
        shutil.rmtree(run_dir, ignore_errors=True)
        for d in ("tmp", "local", "check"):
            os.makedirs(os.path.join(run_dir, d))
        _, pid, res = run.jvm(classes, run_dir, [
            "mode=check", f"sf={sf_dir}", "queries=" + ",".join(queries)],
            time.monotonic() + 1800)
        for q in queries:
            sql = res["oracle_sql"].get(q)
            if q in res["errors"] or sql is None:
                print(f"FAIL {q}: {res['errors'].get(q, 'no oracle SQL')}")
                bad += 1
                continue
            s = frame(os.path.join(run_dir, "check", q))
            d = con.execute(sql).df()
            d = d[sorted(d.columns)]
            if (list(s.columns) != list(d.columns) or len(s) != len(d)
                    or s.astype(str).values.tolist() != d.astype(str).values.tolist()):
                print(f"FAIL {q}: Spark output differs from the DuckDB oracle")
                bad += 1
                continue
            expected[q] = {"hash": run.output_hash(os.path.join(run_dir, "check", q)),
                           "rows": len(s), "columns": list(s.columns)}
            print(f"OK   {q} ({len(s)} rows)")
        for p in [run_dir] + run.pid_scratch([pid]):
            shutil.rmtree(p, ignore_errors=True)
    if bad:
        sys.exit(f"{bad} queries failed the oracle; expected.json not written")
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({"sf": run.SF, "queries": expected}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
