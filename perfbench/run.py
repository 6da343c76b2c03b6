#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload tx_loop --seed 1 --seconds 15 --trace 0

Run from the root of the repository. The first run builds the graft
sources and the harness (sbt, offline) into `.bench_build/`; later runs
reuse that build while the sources are unchanged. The harness runs on
one JVM with Spark `local[<cores>]`, checks every result, and writes its
record and (with `--trace 1`) its spans under `.bench_build/runs/`.
The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. See perfbench/README.md for what each metric means.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("tx_loop", "datalog_sf001")
# End-to-end figures printed on the detail line only: wall times, which a
# shared host moves by more than a gate allows (the gated read figures
# are the same ones in units of the reference query), too few samples
# (p80), or not defined on every workload (transacts).
DETAIL_UNITS = {"setup_wall_s": "s", "query_ms.geomean": "ms", "query_ms.p50": "ms", "query_ms.p80": "ms",
                "ops_per_s": "1/s", "reference_ms.geomean": "ms", "transact_ms.p50": "ms",
                "transact_ms.p80": "ms", "failed_ratio": "ratio"}
JVM_TIMEOUT_S = 160
SBT_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, message):
    print(f"perfbench: {message}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, sorted."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile graft and the harness once per source state; return the classpath."""
    missing = [p for p in ("build.sbt", "src/main/scala/graft/SparkEntry.scala")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        fail(2, f"graft sources not found ({', '.join(missing)}): run from a full checkout")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       f" -Dsbt.offline=true -Xmx2g -Djava.io.tmpdir={tmp}").strip()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                stdin=subprocess.DEVNULL, timeout=SBT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(3, f"build timed out; see {log_path}")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    with open(log_path, "a") as log:
        log.write(proc.stdout)
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(3, f"build failed; see {log_path}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def heap():
    """A quarter of the machine's memory, between 2 and 4 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gb = kb // (4 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{min(4, max(2, gb))}g"


def run_jvm(classpath, args, run_dir):
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-cp", classpath, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), DATA, run_dir, str(cores)]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(4, f"run timed out after {JVM_TIMEOUT_S} s; see {log_path}")
        finally:
            # never leave the JVM behind: timeout, error or SIGTERM
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.isfile(result_path):
        fail(4, f"run failed (exit {code}); see {log_path}")
    with open(result_path) as fh:
        return json.load(fh)


def norm(v):
    """Value normalisation of scripts/check.py: doubles to 10 digits."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def check_results(run_dir):
    """Compare each key's first measured result with its DuckDB oracle.
    Returns the names of the keys whose results are wrong (or unchecked)."""
    dumps = sorted(glob.glob(os.path.join(run_dir, "results", "*")))
    if not dumps:
        return []
    import duckdb
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for path in glob.glob(os.path.join(DATA, "*.parquet")):
        name = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    wrong = []
    for path in dumps:
        key = os.path.basename(path)
        got = con.execute(f"SELECT * FROM '{path}/*.parquet'")
        cols = [d[0] for d in got.description]
        rows = got.fetchall()
        ok = key in oracle
        if ok:
            want = con.execute(oracle[key])
            want_cols = [d[0] for d in want.description]
            ok = (sorted(cols) == sorted(want_cols) and
                  norm_rows(cols, rows) == norm_rows(want_cols, want.fetchall()))
        if not ok:
            print(f"perfbench: {key}: result differs from its oracle", file=sys.stderr)
            wrong.append(key)
    return wrong


def main():
    signal.signal(signal.SIGTERM, lambda *_: fail(5, "terminated"))
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    classpath = build()
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(2, f"test data not found under {DATA}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = run_jvm(classpath, args, run_dir)

    wrong = check_results(run_dir)
    failed = result["failed"] + sum(
        result["keys"][k]["n"] - result["keys"][k]["failed"] for k in wrong if k in result["keys"])
    correct = failed == 0 and result["warmup_failed"] == 0 and not wrong
    result["end_to_end"]["failed_ratio"] = failed / max(1, result["attempted"])
    values = result["per_layer"] if args.trace else result["end_to_end"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    # a per-layer metric of another workload's layer or op reads 0 here
    metrics = {m["name"]: {"value": values[m["name"]] if not args.trace
                           else values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    units = dict(DETAIL_UNITS, **{m["name"]: m["unit"] for m in spec["end_to_end"]})
    result["end_to_end"] = {k: {"value": v, "unit": units[k]}
                            for k, v in result["end_to_end"].items()}

    if args.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        trace_file = os.path.join(traces, f"{args.workload}-s{args.seed}.json")
        shutil.copyfile(os.path.join(run_dir, "trace.json"), trace_file)
        result["trace_file"] = os.path.relpath(trace_file, ROOT)
    for sub in ("warehouse", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    result["oracle_mismatches"] = wrong
    print(json.dumps({"detail": result}))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
