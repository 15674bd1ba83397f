#!/usr/bin/env python3
"""Regenerate the DuckDB reference answers the benchmark checks against.

    python3 perfbench/refs.py [sf0.01 sf0.001 ...]

For each dataset under perfbench/data/, replays every benchmarked entry's
oracle SQL (graft.SparkEntry.oracleSql) in DuckDB over the same parquet
files and stores, per entry, the sorted column names, the row count and a
sha256 of the rows rendered by tools/check.py's rules (pandas conversion,
row order kept) in perfbench/refs/<sf>.json.
"""
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    sfs = sys.argv[1:] or sorted(os.listdir(run.DATA))
    cp = run.build()
    os.makedirs(os.path.join(run.BUILD, "tmp"), exist_ok=True)
    sql_file = os.path.join(run.BUILD, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.OracleSql", sql_file], check=True,
                   timeout=600)
    oracle = json.load(open(sql_file))
    for sf in sfs:
        con = duckdb.connect()
        for f in sorted(os.listdir(os.path.join(run.DATA, sf))):
            if f.endswith(".parquet"):
                path = os.path.join(run.DATA, sf, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        refs = {}
        for name, sql in sorted(oracle.items()):
            if sql is None:
                print(f"{sf} {name}: no oracle SQL", file=sys.stderr)
                continue
            refs[name] = run.fingerprint(*run.render(con, sql))
            print(f"{sf} {name}: {refs[name]['rows']} rows", file=sys.stderr)
        os.makedirs(run.REFS, exist_ok=True)
        with open(os.path.join(run.REFS, f"{sf}.json"), "w") as f:
            json.dump(refs, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
