#!/usr/bin/env python3
"""Benchmark of the streaming state path: state-store providers, operators, micro-batches.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. Each run starts one
benchmark JVM (perfbench.Main), which measures the workload, checks its
output and writes a JSON record under perfbench/.work/. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (0 where a layer is not on the
workload's path). Before that line come one line per metric, the failed
share and the calibration samples; build and JVM logs go to standard error.
Workloads, metrics and their expected effects are described in METRICS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["kv-resp-ttl", "rocksdb-bandbucket"]
JVM_TIMEOUT_S = 170
HEAP_MB = 2048


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + benchmark with sbt unless the build is current."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building library and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        die("sbt build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def jvm_args(classpath, work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap keeps peak RSS from depending on how far
    # the collector chose to grow the heap; what varies is native memory
    return (["java", f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "perfbench.Main"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"library sources not found under {ROOT}/src; run from a full checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classpath = build()

    work = os.path.join(WORK, f"run-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record_path = os.path.join(work, "record.json")
    cmd = jvm_args(classpath, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", record_path]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
    if rc != 0 or not os.path.exists(record_path):
        die(f"benchmark JVM failed (exit {rc})")
    rec = json.load(open(record_path))
    attempted, failed, problems = rec["attempted"], rec["failed"], list(rec["problems"])
    for p in problems:
        log(f"FAILED CHECK: {p}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    names = {m["name"] for m in wanted}
    unknown = sorted(set(rec["metrics"]) - names)
    if unknown:
        die(f"metrics missing from BENCHMARK.json: {unknown}")
    if not a.trace:
        absent = sorted(names - set(rec["metrics"]))
        if absent:
            die(f"end-to-end metrics not measured: {absent}")
    metrics = {m["name"]: {"value": float(rec["metrics"].get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    for name, m in metrics.items():
        print(f"{a.workload} {name} {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} failed_share {failed / max(attempted, 1):.6g} ({failed} of {attempted})")
    print(f"{a.workload} calibration_s {rec['calibration_s']} host {json.dumps(rec['host'])}")
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
