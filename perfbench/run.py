#!/usr/bin/env python3
"""graft benchmark: run one seeded workload and print its metrics.

    python3 perfbench/run.py --workload sparql_olap --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles graft (src/main/scala)
and the benchmark (perfbench/src) with the Scala compiler that ships in
Spark's jars, into $CARGO_TARGET_DIR (default .bench_build). The last line
of standard output is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). The exit code
is non-zero when any output check failed.

Extra flags: --smoke 1 runs a tiny scale; --perturb 1 corrupts every result
of the first measured pass (the checks must catch it); --record FILE writes
the reduced record (metrics, per-operation table, sizes) as JSON.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import stats  # noqa: E402

WORKLOADS = ("sparql_olap", "fixpoint", "pipeline", "endpoint_rw")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = []
    for d in dirs:
        if not os.path.isdir(d):
            die(f"missing source directory {os.path.relpath(d, root)}: run from a graft checkout")
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die(f"no Spark jars at {jars}; set SPARK_HOME")
    return os.path.join(jars, "*")


def build(root, build_dir):
    """Compile graft + the benchmark once per source tree."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                        "-classpath", jars, "-d", tmp, "-nowarn", *files],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("compilation failed", 4)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: compiled {len(files)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, stamp


def run_jvm(classes, args, work, raw_path, cache):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, spark_jars()]), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--smoke", str(args.smoke), "--perturb", str(args.perturb),
            "--work", work, "--out", raw_path, "--cache", cache]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"workload exceeded {JVM_TIMEOUT_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", default=None)
    args = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, stamp = build(root, build_dir)
    # inputs that do not depend on the seed, reused by every run of a build
    cache = os.path.join(build_dir, "inputs", stamp[:16])
    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    raw_path = os.path.join(work, "raw.json")
    try:
        rc = run_jvm(classes, args, work, raw_path, cache)
        if rc != 0 or not os.path.exists(raw_path):
            die(f"workload process exited with code {rc}", 5)
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, note = stats.end_to_end(raw)
    if args.trace:
        values = stats.per_layer(raw)
        units = {k: unit_of(k) for k in values}
    else:
        values, units = e2e, stats.E2E_UNITS
    for f in raw["failures"]:
        print(f"check failed: {f}")
    print("info: " + json.dumps({"workload": raw["workload"], "seed": raw["seed"], "sizes": raw["sizes"],
                                 **note}))
    if args.record:
        rec = {"workload": raw["workload"], "seed": raw["seed"], "trace": bool(args.trace),
               "end_to_end": e2e, "note": note, "sizes": raw["sizes"], "failures": raw["failures"]}
        if args.trace:
            rec["per_layer"] = values
            rec["per_op"] = stats.per_op_table(raw)
        with open(args.record, "w") as fh:
            json.dump(rec, fh, indent=1)
    correct = raw["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_kb"):
        return "KB"
    if name.endswith("_pct"):
        return "%"
    if name in ("spark.busy_ratio", "ops.lsh_recall", "ops.ann_recall_at_10"):
        return "ratio"
    if name.endswith("bytes_per_quad") or name.endswith("bytes_per_update"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    main()
