#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the benchmark project
(the repository's main sources plus the harness in perfbench/src) with
sbt when the sources changed since the last build, writes the seeded
inputs into a fresh scratch directory, runs the workload in one JVM at
local[<cores>], and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. The full result (report, layers and
spans) of every run is kept under perfbench/.results/. The exit code is
0 when every stage call, query and output check succeeded, 1 when one
failed, and 2 or more when the benchmark could not run.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("cdc_hourly", "query_mix")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_LIMIT_S = 170

# Per-layer metrics of modules a workload does not call read 0.
LAYER_PREFIXES = {
    "cdc_hourly": ("cli.", "jobs.", "raw.", "cdcops.", "lake.", "jvm."),
    "query_mix": ("query.", "stream.", "memo.", "jvm."),
}

JVM_OPTS = ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_home():
    """SPARK_HOME, or the Spark installation whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    die(2, "no Spark installation: set SPARK_HOME")


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(main, "graft", "Cli.scala")):
        die(2, f"no graft sources under {main}; run from the root of a checkout")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "compile"], cwd=HERE, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840,
                             env=dict(os.environ, SPARK_HOME=spark_home()))
    if rc != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(3, "sbt compile failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, scratch, inputs, out, deadline):
    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [
        f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
        f"-Dspark.local.dir={os.path.join(scratch, 'local')}",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inputs", inputs, "--scratch", scratch, "--out", out,
        "--cores", str(cores()),
        "--fingerprints", os.path.join(HERE, "fingerprints.json")]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    log = os.path.join(scratch, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                # SIGTERM first, so the JVM's shutdown hooks remove the
                # session scratch they created
                os.killpg(p.pid, signal.SIGTERM)
                try:
                    p.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log, errors="replace").readlines()[-60:]))
        die(4, "workload timed out" if rc is None else f"workload JVM exited with {rc}")
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="query_mix: write fresh result fingerprints, the "
                    "results and their oracle SQL to this directory")
    args = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build()
    started = time.monotonic()
    scratch = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(5))
    try:
        inputs = os.path.join(scratch, "inputs")
        if args.workload == "query_mix":
            gen.build_tables(inputs)
        else:
            gen.write_cdc(args.seed, inputs)
        out = os.path.join(scratch, "result.json")
        doc = run_jvm(args, scratch, inputs, out, started + RUN_LIMIT_S)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    results = os.path.join(HERE, ".results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(doc, f)

    for k, v in sorted(doc["report"].items()):
        if isinstance(v, (int, float)) or v is None:
            print(f"report {args.workload} {k} {v}")
    if args.trace:
        other = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(other):
            base = json.load(open(other))["e2e"]
            for k, v in sorted(doc["e2e"].items()):
                print(f"trace_overhead {args.workload} {k} traced={v:.4f} "
                      f"untraced={base[k]:.4f} delta={v - base[k]:+.4f}")

    metrics = {}
    if args.trace:
        for m in spec["per_layer"]:
            name = m["name"]
            if name in doc["layers"]:
                value = doc["layers"][name]
            elif not name.startswith(LAYER_PREFIXES[args.workload]):
                value = 0.0
            else:
                die(6, f"per-layer metric {name} missing from the traced run")
            metrics[name] = {"value": value, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": doc["e2e"][m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": doc["correct"], "attempted": doc["attempted"],
                      "failed": doc["failed"], "metrics": metrics}))
    sys.exit(0 if doc["correct"] else 1)


if __name__ == "__main__":
    main()
