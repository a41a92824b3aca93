#!/usr/bin/env python3
"""Benchmark entry point: builds the harness and the engine from source,
runs one workload in one JVM, and prints the result object as the last line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload board --seed 1 --seconds 8 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(BENCH_DIR, ".build")
WORK_DIR = os.path.join(BENCH_DIR, ".work")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "sources.sha256")
WORKLOADS = ("board", "ingest")
RUN_TIMEOUT_S = 170
HEAP = "3g"
BUILD_TIMEOUT_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile harness + engine with sbt (offline) unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH_FILE) as c:
                    return c.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    log("building harness and engine (sbt compile)")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as f:
        f.write(out.stdout)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit(f"build failed (rc={out.returncode})")
    cp = [ln.strip() for ln in out.stdout.splitlines()
          if ln.strip().endswith(".jar") or "/classes" in ln]
    cp = [ln for ln in cp if os.pathsep in ln or ln.endswith(".jar")]
    if not cp:
        raise SystemExit("build produced no classpath")
    classpath = cp[-1]
    with open(CLASSPATH_FILE, "w") as f:
        f.write(classpath)
    with open(STAMP_FILE, "w") as f:
        f.write(digest)
    log(f"build done in {time.time() - t0:.1f} s")
    return classpath


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources (src/main/scala/graft) not found next to perfbench/")
        return 2
    try:
        classpath = build()
    except (OSError, subprocess.SubprocessError, SystemExit) as e:
        log(f"build failed: {e}")
        return 3

    run_dir = os.path.join(WORK_DIR, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_file = os.path.join(run_dir, "result.json")
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # a fixed heap: with a growing heap, runs differed by about 15%
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
              # no hsperfdata file in the system temp directory
              "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", str(cpus()), "--work", run_dir,
              "--cache", os.path.join(WORK_DIR, "cache"),
              "--expected", os.path.join(BENCH_DIR, "expected"),
              "--result", result_file])
    os.makedirs(os.path.join(run_dir, "tmp"))
    log_path = os.path.join(WORK_DIR, f"{a.workload}-s{a.seed}-t{a.trace}.log")
    rc = None
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    result = None
    if rc == 0 and os.path.exists(result_file):
        with open(result_file) as f:
            result = json.load(f)
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, log_path[:-len(".log")] + ".spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        log(f"run failed (rc={rc}); see {log_path}")
        return 4
    for name, m in result["metrics"].items():
        log(f"{a.workload:7s} {name:40s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
