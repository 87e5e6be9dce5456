#!/usr/bin/env python3
"""Repo benchmark: the Bamboo physics passes beside the headline operator
queries, each run in one JVM on Spark local[N] (N = min(4, nproc)).

    python3 perfbench/run.py --workload zmumu_samples --seed 7 --seconds 8 --trace 0
    python3 -m unittest discover -s perfbench -p 'test_*.py'   # its arithmetic

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM side (perfbench/src) with sbt and caches the classpath
under .bench_build/; later runs start the JVM directly. Inputs
are generated from --seed and cached there by (seed, size).

Every set-up round and every timed pass counts toward the medians; nothing
is re-run. Outputs are checked outside the timed region: the physics
cutflow / counter / normalisation invariants and result digests in the JVM,
and every ops_suite result against its DuckDB oracle over the same tables.

The last stdout line is one JSON object with the metrics BENCHMARK.json
declares: end-to-end with --trace 0, per-layer with --trace 1. failed_frac,
host load and steal are printed above it. perfbench/LAYERS.md says what
each metric measures and which layer should move which metric.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402
import tables  # noqa: E402

# Input size per workload (events per sample, or the ops scale factor),
# chosen so one pass lasts seconds on 4 cores and a run stays under a minute.
SIZES = {"zmumu_samples": "20000", "ops_suite": "0.005"}
SETUP_ROUNDS = 3
CPUS = min(4, os.cpu_count() or 1)
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700  # plus the JVM's limit, within a first run's 900 s

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(("%s %d %d\n" % (os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def classpath():
    """Builds with sbt when the sources changed since the cached build."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    open(cp_file, "w").write(lines[-1])
    open(stamp_file, "w").write(stamp)
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return lines[-1]


def prune_inputs(data_dir, keep):
    """Keeps the `keep` most recently used input sets."""
    if not os.path.isdir(data_dir):
        return
    entries = sorted((os.path.getmtime(os.path.join(data_dir, e)), e) for e in os.listdir(data_dir))
    for _, e in entries[:-keep]:
        shutil.rmtree(os.path.join(data_dir, e), ignore_errors=True)


def run_jvm(cp, a, work, out, inputs):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed, pre-touched heap keeps peak RSS from tracking when GC happened
    # to grow the heap; what varies is the memory the JVM uses beyond it.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", cp, "perfbench.BenchMain",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--setups", str(SETUP_ROUNDS),
            "--cpus", str(CPUS), "--work", work, "--out", out] + inputs
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        r = subprocess.run(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isfile(out):
        sys.stderr.write(open(log).read()[-6000:])
        fail("benchmark JVM exited with %d" % r.returncode)
    return json.load(open(out))


def norm(v):
    """NaN equals NaN when comparing result columns."""
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def check_ops(raw, tables_dir):
    """Counts the suite's input rows, then compares each result that has a
    DuckDB oracle with the oracle's answer over the same tables: columns,
    row count, and every value after sorting both sides on all columns.
    Returns the problems found."""
    import duckdb
    con = duckdb.connect()
    raw["rows_per_pass"] = 0
    for t in sorted(os.listdir(tables_dir)):
        if t.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s/*.parquet')"
                        % (t[:-len(".parquet")], tables_dir, t))
            raw["rows_per_pass"] += con.execute(
                "SELECT count(*) FROM %s" % t[:-len(".parquet")]).fetchone()[0]
    problems = []
    for name, sql in sorted(raw["oracle_sql"].items()):
        try:
            got = con.execute("SELECT * FROM read_parquet('%s/%s/*.parquet')"
                              % (raw["results_dir"], name)).fetchdf()
            exp = con.execute(sql).fetchdf()
            cols = sorted(got.columns)
            if cols != sorted(exp.columns):
                problems.append("%s: columns %s vs oracle %s" % (name, cols, sorted(exp.columns)))
                continue
            if len(got) != len(exp):
                problems.append("%s: %d rows vs oracle %d" % (name, len(got), len(exp)))
                continue
            g = got[cols].sort_values(by=cols).reset_index(drop=True)
            e = exp[cols].sort_values(by=cols).reset_index(drop=True)
            for c in cols:
                if [norm(x) for x in g[c].tolist()] != [norm(x) for x in e[c].tolist()]:
                    problems.append("%s: column %s differs from oracle" % (name, c))
                    break
        except Exception as ex:  # an unreadable result or a failing oracle is a failed check
            problems.append("%s: %s: %s" % (name, type(ex).__name__, str(ex)[:300]))
    return problems


def digest_problems(raw, size):
    """Results of the same (workload, seed, size) must match across runs."""
    if "digest" not in raw:
        return []
    path = os.path.join(BUILD_DIR, "digests.json")
    known = json.load(open(path)) if os.path.isfile(path) else {}
    key = "%s/%s/%s" % (raw["workload"], raw["seed"], size)
    if known.get(key, raw["digest"]) != raw["digest"]:
        return ["%s: result digest differs from an earlier run of the same inputs" % key]
    known[key] = raw["digest"]
    json.dump(known, open(path, "w"))
    return []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under %s/src; run from a checkout of the repo" % ROOT)

    cp = classpath()
    prune_inputs(os.path.join(BUILD_DIR, "data"), keep=8)
    work = os.path.join(BUILD_DIR, "work-%d" % os.getpid())
    os.makedirs(work, exist_ok=True)
    try:
        data = os.path.join(BUILD_DIR, "data")
        t0 = time.time()
        if a.workload == "ops_suite":
            tables_dir = tables.generate(data, a.seed, float(SIZES[a.workload]))
            inputs = ["--tables", tables_dir]
        else:
            inputs = ["--size", SIZES[a.workload], "--data", data]
        gen_s = time.time() - t0
        raw = run_jvm(cp, a, work, os.path.join(work, "raw.json"), inputs)
        raw["gen_s"] += gen_s
        if a.workload == "ops_suite":
            checked = check_ops(raw, tables_dir)
        else:
            raw["rows_per_pass"] = 2 * int(SIZES[a.workload])  # two samples
            checked = []
        checked += digest_problems(raw, SIZES[a.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # The JVM's failures are already counted in raw["failed"].
    attempted = raw["attempted"]
    failed = raw["failed"] + len(checked)
    for p in raw["problems"] + checked:
        print("problem: " + p)
    print("diagnostics: passes=%d setups=%d gen_s=%.2f pass_cpu_s=%.2f load1_start=%.2f "
          "load1_end=%.2f steal_pct=%.2f"
          % (len(raw["pass_s"]), len(raw["setup_s"]), raw["gen_s"], stats.median(raw["pass_cpu_s"]),
             raw["load1_start"], raw["load1_end"], raw["steal_pct"]))
    print("failed_frac %.4f (%d of %d operations)"
          % (stats.failed_frac(attempted, failed), failed, attempted))
    # BENCHMARK.json declares the metrics and their units.
    declared = {m["name"]: m["unit"]
                for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
                ["per_layer" if a.trace else "end_to_end"]}
    if a.trace:
        modules = [n.split(".")[1] for n in declared if n.startswith("operators.")]
        values = stats.per_layer(raw, modules)
    else:
        values = stats.end_to_end(raw)
    if set(values) != set(declared):
        fail("metrics %s differ from BENCHMARK.json's %s" % (sorted(values), sorted(declared)))
    metrics = {k: {"value": v, "unit": declared[k]} for k, v in values.items()}
    for k, v in metrics.items():
        print("%s %.6g %s" % (k, v["value"], v["unit"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
