#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (the build is reused while the sources are
unchanged). Prints one line per metric with its unit and sample count, then,
as the last line, the result as one JSON object. Exits non-zero when an
output check fails or the run cannot complete.
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
OUT = os.path.join(HERE, "target")
CLASSPATH = os.path.join(OUT, "classpath.txt")
STAMP = os.path.join(OUT, "classpath.stamp")
# the JVM must end well inside the 180 s a run may take
JVM_LIMIT_S = 170
HEAP = "3g"
# A generation or micro-batch is bound by the driver and leaves cores idle
# for a large share of its wall; more JIT compiler threads use them to end
# the warm-up sooner, which a run of this length needs.
JIT_THREADS = 6

# Spark on JDK 17 needs these when the session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the last build is of the same sources;
    returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as c:
                    return c.read()
    log("building engine and benchmark with sbt")
    os.makedirs(OUT, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(OUT, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    with open(STAMP, "w") as f:
        f.write(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources next to the benchmark: run from a checkout of the repo")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {args.workload}")
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    classpath = build()
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:CICompilerCount={JIT_THREADS}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result_file,
            "--trace-out", os.path.join(OUT, "traces")]
    # the JVM's own output is diagnostics: keep stdout for the result
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("run did not finish in time")
    if not os.path.exists(result_file):
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"benchmark JVM exited with code {code} and no result")
    with open(result_file) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    values, samples = raw["values"], raw["samples"]
    names = [m["name"] for m in declared]
    undeclared = sorted(set(values) - set(names))
    if undeclared:
        raise SystemExit(f"measured metrics not declared in BENCHMARK.json: {undeclared}")
    metrics = {}
    for m in declared:
        name = m["name"]
        if name in values:
            n = samples.get(name)
            note = f"n={int(n)}" if n is not None else ""
        elif args.trace:
            # a per-layer metric of a layer this workload does not exercise
            note = "layer not exercised by this workload"
        else:
            raise SystemExit(f"end-to-end metric {name} was not measured")
        value = values.get(name, 0.0)
        metrics[name] = {"value": value, "unit": m["unit"]}
        print(f"{name:32s} {value:14.6g} {m['unit']:8s} {note}")
    print(f"{'attempted':32s} {raw['attempted']:14d}")
    print(f"{'failed':32s} {raw['failed']:14d}")
    print(f"{'correct':32s} {str(raw['correct']).lower():>14s}")
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}), flush=True)
    return 0 if raw["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
