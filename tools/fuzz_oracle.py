#!/usr/bin/env python3
"""Seeded oracle fuzz harness (VERDICT r14 item 5).

Drives graft.tools.FuzzVerify — N seeded instances of 12 query templates,
dumped through graft.Verify's dump. Nine templates draw parameters for a
registry query's own Spark builder and oracle-SQL generator, so each seed
checks the code the registry runs at a point off its pinned values; three
(nation_window, qual_gate, qty_hist) build their own query. Every instance
is then hash-compared with the driver-format selfcheck. On top of the
per-instance verdicts it enforces NON-TRIVIALITY: an empty result
vacuously hash-matches (the old q74 empty-result trap), so any instance
that returns zero rows fails the run even if every compare "passed".

Usage: python3 tools/fuzz_oracle.py [sfDir] [n] [seed0] [outDir]
Reproduce one instance: same seed0/n land on the same (template, params).
"""
import json
import os
import subprocess
import sys

import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
n = sys.argv[2] if len(sys.argv) > 2 else "50"
seed0 = sys.argv[3] if len(sys.argv) > 3 else "42"
out_dir = sys.argv[4] if len(sys.argv) > 4 else "/tmp/fuzz_out"

root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

print(f"[fuzz] dumping {n} instances (seed0={seed0}) at {sf_dir}", flush=True)
rc = subprocess.call(
    ["bash", f"{root}/tools/run.sh", "graft.tools.FuzzVerify",
     sf_dir, out_dir, n, seed0])
if rc != 0:
    print(f"FAIL fuzz: FuzzVerify dump rc={rc}")
    sys.exit(1)

rc = subprocess.call(
    [sys.executable, f"{root}/tools/selfcheck.py", sf_dir, out_dir])

# non-triviality floor: count empty spark results — over THIS batch's
# instance names (oracle_sql.json), never stale dirs from a previous run
names = sorted(json.load(open(f"{out_dir}/oracle_sql.json")))
con = duckdb.connect()
empty = []
for name in names:
    rows = con.execute(f"SELECT COUNT(*) FROM "
                       f"read_parquet('{out_dir}/{name}/*.parquet')").fetchone()[0]
    if rows == 0:
        empty.append(name)
total = len(names)
if empty:
    print(f"[fuzz] {len(empty)}/{total} instances returned ZERO rows: "
          f"{', '.join(empty[:8])}")
# Per-instance non-triviality (VERDICT r16 item 3): an empty result
# vacuously hash-matches, so EVERY instance must return rows — the old 25%
# batch floor let 3/50 degenerate fz11 draws count as "PASS". The template
# parameter spaces are ranged against the corpus distributions
# (FuzzVerify.scala per-template comments) so a zero here is always a
# template-range bug to fix, never an acceptable draw.
if empty:
    print(f"FAIL fuzz: {len(empty)}/{total} instances returned zero rows — "
          f"every instance must be non-trivial; re-range the template draws")
    sys.exit(1)
if rc != 0:
    print("FAIL fuzz: selfcheck reported mismatches above")
    sys.exit(1)
print(f"PASS fuzz ({total} instances, {len(empty)} empty, seed0={seed0})")
