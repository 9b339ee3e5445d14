#!/usr/bin/env python3
"""Benchmark entry point for h2hspark.

    python3 perfbench/run.py --workload <connector_io|relational> \
        --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. The first run in a checkout builds the library
and the benchmark from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Each run then starts one JVM that runs the
workload over the fixture tables in perfbench/data, checks its outputs and
prints JSON lines, the last of which is the result. See perfbench/README.md.
"""
import argparse
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
WORK = os.path.join(HERE, "work")
LIBRARY = os.path.join(ROOT, "src", "main")
EXPECTED = os.path.join(HERE, "expected_fingerprints.json")
# the repository's sf 0.01 fixture tables (seed 42, see TESTDATA.md), the
# scale its oracle checks run at
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("connector_io", "relational")
JVM_TIMEOUT_S = 170
JVM_HEAP = "2g"
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


def tree_files(top):
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if x not in ("target", "work", "project"))
        for f in sorted(files):
            yield os.path.join(d, f)


def source_digest():
    """Digest of everything the build reads: library and benchmark sources."""
    h = hashlib.sha256()
    files = list(tree_files(LIBRARY)) + list(tree_files(os.path.join(HERE, "src", "main"))) + [
        os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project", "build.properties")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def git_head():
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                head = fh.read().strip()
        return head
    except OSError:
        return "none"


def build(digest):
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b.get("digest") == digest:
            return b["classpath"]
    log("building library and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=700)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("sbt build failed")
    cps = [l for l in p.stdout.splitlines() if "classes" in l and os.pathsep in l]
    if not cps:
        sys.exit("sbt printed no classpath")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1].strip()}, fh)
    return cps[-1].strip()


def library_scratch(data_dir):
    """Where the library's once-per-session writes for `data_dir` land
    (`Formats.ioDir`: a fixed root keyed by the data directory)."""
    return os.path.join("/tmp/graft_io", re.sub("[^A-Za-z0-9]", "_", data_dir))


def run_jvm(cmd, out_path):
    """Run the JVM with its stdout in a file; kill its process group when it
    overruns. Returns the exit code and the stdout lines."""
    with open(out_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"JVM exceeded {JVM_TIMEOUT_S} s and was killed")
            code = 3
    with open(out_path) as fh:
        lines = [l.strip() for l in fh]
    if code != 3:
        for l in lines:
            print(l)
    return code, lines


def declared_metrics(trace):
    """Metric names and units BENCHMARK.json declares for this mode."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(LIBRARY, "scala", "graft", "SparkEntry.scala")):
        sys.exit(f"library sources not found under {LIBRARY}")
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    classpath = build(digest)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    scratch = library_scratch(DATA)
    shutil.rmtree(scratch, ignore_errors=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", DATA,
              "--work", run_dir, "--expected", EXPECTED,
              "--head", git_head(), "--digest", digest])
    try:
        code, lines = run_jvm(cmd, os.path.join(run_dir, "stdout.txt"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)
    if code == 0:
        try:
            result = json.loads(lines[-1])
            ok = result["correct"] and set(result) == {"correct", "attempted", "failed", "metrics"}
            units = {k: v["unit"] for k, v in result["metrics"].items()}
        except (IndexError, ValueError, KeyError, TypeError, AttributeError):
            ok = False
        if not ok:
            log("the JVM's last line is not a correct result")
            code = 4
        elif declared_metrics(a.trace) not in (None, units):
            log("the metrics printed differ from those BENCHMARK.json declares")
            code = 5
    sys.exit(code)


if __name__ == "__main__":
    main()
