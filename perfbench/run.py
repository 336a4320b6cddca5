#!/usr/bin/env python3
"""Run one benchmark workload of the mallispark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the benchmark (its own
sbt build in perfbench/, compiling the engine from src/main/scala); later
runs reuse the build while no source file has changed. The last line of
standard output is the result as one JSON object; everything else goes
to standard error.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "runtime-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "perfbench-source.sha256")
WORKLOADS = ["audit_clean", "ingest_dirty", "dedup_neardup", "wide_schema"]
# Fixed driver heap (the engine's local mode runs everything in it). The
# audit_clean snapshot is sized to be larger than the storage memory this
# heap gives; a change here changes what every workload measures.
HEAP = "512m"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

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


def source_digest():
    """Digest of every file the build compiles, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, stdout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"timed out after {timeout}s: {cmd[0]}")
        return 124, None
    return proc.returncode, out


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == digest:
                return
    log("building (sbt writeClasspath) ...")
    code, _ = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                         "writeClasspath"], HERE, BUILD_TIMEOUT_S, sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH_FILE):
        log(f"build failed (exit {code})")
        sys.exit(3)
    with open(STAMP_FILE, "w") as f:
        f.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
            "run from a full checkout of the repository")
        sys.exit(2)
    build()
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.jsonl")
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is touched up front, so the peak resident set does not
    # depend on how far the collector happened to grow into it (the heap
    # itself is measured as the live heap after full collections); a fixed
    # number of JIT compiler threads, so none exits mid-operation and takes
    # its CPU time out of the count the benchmark subtracts
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--out", out])
    try:
        code, stdout = run_child(cmd, ROOT, RUN_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = (stdout or b"").decode().strip().splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        log(f"benchmark failed (exit {code})")
        sys.exit(code or 1)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
