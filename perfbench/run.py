#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the benchmark (perfbench/build.sbt) on first
use, runs the workload in one JVM, checks its outputs against the planted
ground truth, and prints the metrics. The last stdout line is one JSON
object: correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). The exit code is non-zero
when the build or the run fails or an output check does not hold.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

BUILD_DIR = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")
HEAP = "3g"
RUN_TIMEOUT_S = 170

# What a Spark driver embedded in a plain JVM needs on JDK 17 (the same
# list spark-submit passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for path in inputs:
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the runtime
    classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("building the program and the benchmark (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or "classes" not in cp or cp.startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        log("build failed")
        sys.exit(2)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def commit_id(stamp):
    """The git commit of the checkout, else a digest of the built sources
    (a checkout without its git metadata)."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha256:" + stamp[:16]


def run_jvm(cp, args, work):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    env = dict(os.environ)
    # Spark prefers this variable over its own setting; keep scratch here
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, _frame):
        # never leave the JVM behind when this process is told to stop
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s; killed")
        return None
    if code != 0 or not os.path.isfile(out):
        log(f"run failed with exit code {code}")
        return None
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(cp, args, work)
        if raw is None:
            sys.exit(3)
        raw["commit"] = commit_id(source_stamp())
        report = metrics.report(args.workload, raw, trace=bool(args.trace))
        if args.trace:
            # the spans and counters behind the per-layer numbers
            path = os.path.join(WORK_ROOT, f"trace-{args.workload}.json")
            with open(path, "w") as f:
                json.dump({"spans": raw.get("spans", []),
                           "spark_ops": raw.get("spark_ops", {}),
                           "spark_files": raw.get("spark_files", []),
                           "per_layer": report["metrics"]}, f)
            log(f"spans written to {os.path.relpath(path, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for line in report["lines"]:
        print(line)
    print(json.dumps({"correct": report["correct"],
                      "attempted": report["attempted"],
                      "failed": report["failed"],
                      "metrics": report["metrics"]}))
    sys.stdout.flush()
    if not report["correct"]:
        log("an output check failed: " + ", ".join(
            k for k, v in raw["checks"].items() if not v))
        sys.exit(1)


if __name__ == "__main__":
    main()
