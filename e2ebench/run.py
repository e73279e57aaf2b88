#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and harness from source, runs one
workload in a fresh JVM, gates its results and prints one JSON line.

    python3 e2ebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The line before it carries the run's detail (set-up samples, pass walls,
sample counts, failures). Everything a run writes stays under
e2ebench/target and e2ebench/work. See e2ebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
HEAP = "3g"
RUN_LIMIT_S = 170
FIXTURES = {"bi_heavy_sf0.01": "sf0.01"}  # query workloads -> fixture set
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine and harness sources and build files."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("engine sources not found next to the benchmark (run from a full checkout)")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "writeClasspath"], cwd=BENCH, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, stdin=subprocess.DEVNULL, timeout=880)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_jvm(args, work, out):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", open(CLASSPATH).read().strip(), "e2ebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--fixtures", os.path.join(BENCH, "fixtures"), "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        fail(f"harness JVM ended with {code}")
    with open(out) as f:
        return json.load(f)


def gate_results(workload, work):
    """Hashes each query's written result and compares it with the DuckDB
    oracle recorded for the same fixtures. Returns (attempted, failures)."""
    import resulthash
    sf = FIXTURES[workload]
    with open(os.path.join(BENCH, "oracle", f"{sf}.json")) as f:
        oracle = json.load(f)
    queries = sorted(os.listdir(os.path.join(work, "results")))
    con = resulthash.connect(os.path.join(BENCH, "fixtures", sf))
    failures = []
    for q in queries:
        want = oracle.get(q)
        path = os.path.join(work, "results", q, "*.parquet")
        try:
            cols, rows, digest = resulthash.result_hash(con, f"SELECT * FROM read_parquet('{path}')")
        except Exception as e:  # unreadable result: the check fails, by name
            failures.append((f"oracle {q}", repr(e)))
            continue
        if want is None:
            failures.append((f"oracle {q}", "no recorded oracle"))
        elif want["hash"] is None:
            if rows == 0:  # no oracle SQL: rows-only check
                failures.append((f"oracle {q}", "empty result"))
        elif (cols, rows, digest) != (want["columns"], want["rows"], want["hash"]):
            failures.append((f"oracle {q}", f"rows {rows} vs {want['rows']}, hash mismatch"))
    return len(queries), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found at the repository root")
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    build()

    work = os.path.join(BENCH, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    res = run_jvm(args, work, os.path.join(work, "result.json"))

    attempted, failed = res["attempted"], [tuple(f) for f in res["detail"]["failures"]]
    if args.workload in FIXTURES:
        n, fs = gate_results(args.workload, work)
        attempted += n
        failed += fs
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] == "ok_frac":
            value = 1.0 - len(failed) / attempted
        elif m["name"] in res["metrics"]:
            value = res["metrics"][m["name"]]
        else:
            fail(f"metric {m['name']} not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    detail = dict(res["detail"])
    detail["failures"] = [list(f) for f in failed]
    print(json.dumps({"detail": detail}))
    correct = not failed
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    sys.path.insert(0, BENCH)
    main()
