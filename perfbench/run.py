#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Compiles the engine's sources together with the benchmark's (the Scala
compiler among the Spark jars the root build names; outputs under
perfbench/target), skips the build when no source changed,
runs the workload in one JVM, and prints one JSON line as the last line of
standard output: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics; spans of a traced run are written to
perfbench/out/. Everything else the run writes lives in a scratch directory
under perfbench/.work that is removed on every exit path.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MARKER = "PERFBENCH_RESULT "


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every input of the build: Scala sources and resources of the engine
    and of the benchmark."""
    out = []
    for r in (ENGINE, os.path.join(HERE, "src", "main")):
        out += sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
    return out


def spark_jars():
    """The Spark jars the root build compiles against (its unmanagedBase)."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        die("the root build.sbt is missing")
    with open(path) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar"))) if m else []
    if not jars:
        die("no Spark jars where the root build.sbt's unmanagedBase points", 1)
    return jars


def build():
    """Compiles engine + benchmark with the Scala compiler that ships among
    the Spark jars, unless the stamp matches; returns the runtime
    classpath. Writes only under perfbench/target."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files + jars:
        h.update(os.path.relpath(f, ROOT).encode())
        if f in files:
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(TARGET, "classes")
    classpath = os.pathsep.join(
        [classes, os.path.join(ENGINE, "resources"),
         os.path.join(HERE, "src", "main", "resources")] + jars)
    if os.path.exists(STAMP) and os.path.isdir(classes):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return classpath
    shutil.rmtree(TARGET, ignore_errors=True)
    staging = os.path.join(TARGET, "classes.tmp")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(staging)
    os.makedirs(tmp)
    args = os.path.join(TARGET, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(["-d", staging, "-classpath", os.pathsep.join(jars),
                            "-encoding", "UTF-8", "-nowarn"]
                           + [f for f in files if f.endswith(".scala")]))
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         "-Djava.io.tmpdir=" + tmp, "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "@" + args],
        cwd=TARGET, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed", 1)
    os.rename(staging, classes)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return classpath


def declared():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found next to perfbench/")
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    spec = declared()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        die("engine sources (src/main/scala/graft) are missing")
    classpath = build()

    scratch = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    spans = []
    if args.trace == "1":
        spans_dir = os.path.join(HERE, "out")
        os.makedirs(spans_dir, exist_ok=True)
        spans = ["--spans", os.path.join(
            spans_dir, f"spans-{args.workload}-{args.seed}.json")]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={scratch}/tmp",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--scratch", scratch] + spans)
    log_path = os.path.join(scratch, "jvm.log")
    proc = None

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE,
                                    stderr=log, stdin=subprocess.DEVNULL,
                                    text=True, env=dict(
                                        os.environ,
                                        SPARK_LOCAL_IP="127.0.0.1",
                                        SPARK_LOCAL_HOSTNAME="localhost"))
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die("workload timed out", 1)
        results = [l[len(MARKER):] for l in stdout.splitlines()
                   if l.startswith(MARKER)]
        if proc.returncode != 0 or not results:
            with open(log_path) as fh:
                lines = [l for l in fh if not l.lstrip().startswith("at ")]
            sys.stderr.write("".join(lines[-40:]))
            die(f"workload exited with {proc.returncode}", 1)
        with open(log_path) as fh:
            for line in fh:
                if line.startswith("CHECK FAILED"):
                    sys.stderr.write(line)
        raw = json.loads(results[-1])
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass

    wanted = spec["per_layer" if args.trace == "1" else "end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in raw["metrics"]:
            value = raw["metrics"][m["name"]]
        elif args.trace == "1":
            value = 0.0  # a layer this workload does not reach
        else:
            die(f"workload did not report {m['name']}", 1)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    sys.exit(0 if raw["correct"] else 1)


if __name__ == "__main__":
    main()
