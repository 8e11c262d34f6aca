#!/usr/bin/env python3
"""Lakehouse benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark client from the checkout's sources on
first use (sbt, offline; the classpath is cached in .bench_build/ and
rebuilt when a source file changes), then runs one workload in a fresh JVM
with a fixed heap on local[k]. Each run works in its own scratch directory
under .bench_run/, where it also generates its inputs, deleted afterwards;
reports and traces land in .bench_out/. The last line of standard output is
the result JSON (correct, attempted, failed, metrics). The exit code is
nonzero when the build fails, the run fails, or the correctness gate trips.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("ingest", "serve", "maintain")
BUILD_DIR = ".bench_build"
RUN_ROOT = ".bench_run"
OUT_DIR = ".bench_out"
EXPECTED = "perfbench/expected/serve.tsv"  # serve: (rows, hash) per registry query
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = ["src/main", "perfbench/src/main", "perfbench/project"]
    files = ["build.sbt", "perfbench/build.sbt"]
    for root in roots:
        for d, _, names in os.walk(root):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + client once per source state; return the classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd="perfbench", env=sbt_env(), stdout=subprocess.PIPE,
            stderr=log, text=True, timeout=BUILD_TIMEOUT_S)
        log.write(proc.stdout)
    if proc.returncode != 0:
        tail = open(log_path).read()[-3000:]
        fail(f"build failed (sbt exit {proc.returncode}):\n{tail}")
    lines = [l for l in proc.stdout.splitlines()
             if l and not l.startswith("[") and ".jar" in l]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
            "-Dspark.ui.enabled=false",
            "-cp", cp, "lakebench.Main"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    with open(log_path, errors="replace") as fh:
        log_text = fh.read()
    return code, log_text


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[k] width; default min(4, nproc)")
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the root of a checkout: the engine sources are missing")
    if not os.path.isfile("perfbench/build.sbt"):
        fail("perfbench/build.sbt is missing")

    cp = build()
    cores = a.cores or min(4, os.cpu_count() or 1)
    run_dir = os.path.join(RUN_ROOT, f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(OUT_DIR, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-k{cores}"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--expected", os.path.abspath(EXPECTED),
            "--run-dir", os.path.abspath(run_dir),
            "--out", os.path.abspath(result_path),
            "--report", os.path.abspath(os.path.join(OUT_DIR, f"report-{tag}.json")),
            "--spans", os.path.abspath(os.path.join(OUT_DIR, f"spans-{tag}.json"))]
    try:
        code, log_text = run_jvm(cp, args, run_dir)
        result = None
        if os.path.isfile(result_path):
            with open(result_path) as fh:
                result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUN_ROOT)
        except OSError:
            pass
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was killed\n{log_text[-3000:]}")
    if result is None or code not in (0, 3):
        fail(f"run failed (exit {code}):\n{log_text[-4000:]}")
    for line in result.get("table", []):
        print(line)
    for p in result.get("problems", []):
        print(f"CORRECTNESS: {p}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
