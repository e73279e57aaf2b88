#!/usr/bin/env python3
"""Records the DuckDB oracle hash of every registry query over each committed
fixture set, into e2ebench/oracle/<sf>.json. run.py compares each query result
of a benchmark run against these; re-record only when the fixtures or a
query's oracle SQL change.

    python3 e2ebench/record_oracle.py      (after one run.py build)

Queries without oracle SQL are recorded with a null hash and get the
rows-only check (non-empty result), as the registry documents.
"""
import json
import os
import subprocess
import sys

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import resulthash  # noqa: E402


def main():
    dump = os.path.join(BENCH, "target", "oracle_sql.json")
    cp = open(os.path.join(BENCH, "target", "runtime-classpath.txt")).read().strip()
    subprocess.run(["java", "-cp", cp, "e2ebench.Main", "--dump-oracle", dump], check=True)
    with open(dump) as f:
        sql = json.load(f)
    os.makedirs(os.path.join(BENCH, "oracle"), exist_ok=True)
    for sf in sorted(os.listdir(os.path.join(BENCH, "fixtures"))):
        con = resulthash.connect(os.path.join(BENCH, "fixtures", sf))
        out = {"duckdb": duckdb.__version__}
        for q in sorted(sql):
            if sql[q] is None:
                out[q] = {"columns": None, "rows": None, "hash": None}
                continue
            cols, rows, digest = resulthash.result_hash(con, sql[q])
            out[q] = {"columns": cols, "rows": rows, "hash": digest}
            print(f"{sf} {q} rows={rows}", file=sys.stderr)
        with open(os.path.join(BENCH, "oracle", f"{sf}.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
