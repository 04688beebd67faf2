#!/usr/bin/env python3
"""Runs one workload of the engine's benchmark and prints its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

WORKLOAD is one of medallion, index_serve, query_sample (the ones
BENCHMARK.json lists), star_analytics or corpus_batch (run by hand). The
harness and the engine are built from source with sbt when their sources
changed since the last build (the first run in a fresh checkout builds);
the harness then runs in one JVM on local[<cores>].
Every run works in a fresh directory under .bench_build/ and removes it.

The last line of standard output is the result object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Any failure (sources missing, build failed, harness crashed or timed out)
exits non-zero without printing a result.

Extra options for maintenance and the self-test:
    --scale small|tiny   input scale (default small)
    --record             re-record perfbench/expected/<scale>/<workload>.tsv
    --corrupt KEY        alter the expected digest of operation KEY
    --list queries|llm   print the declared queries of those modules
    --gen DIR            write the generated input tables to DIR and exit
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
RUNTIME = os.path.join(HERE, "target", "runtime")
# The workloads BENCHMARK.json lists must finish a run within RUN_TIMEOUT_S;
# one warm pass of star_analytics or corpus_batch alone takes about a minute
# on 4 cores, so those two (run by hand) and recording get LONG_TIMEOUT_S.
RUN_TIMEOUT_S = 170
LONG_TIMEOUT_S = 1800
BUILD_TIMEOUT_S = 850
HEAP = "-Xmx3g"


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "project"),):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, dirs, names in os.walk(d):
            dirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine and harness unless the recorded fingerprint matches."""
    fp = fingerprint()
    stamp = os.path.join(RUNTIME, "fingerprint")
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building engine and harness", file=sys.stderr)
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportRuntime"],
                            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    if wait(proc, BUILD_TIMEOUT_S) != 0:
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(fp)


def wait(proc, timeout):
    """Waits for proc; on timeout kills its whole process group. Returns
    the exit code, or None after a timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        try:  # anything the child left behind in its group
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="small", choices=("small", "tiny"))
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--corrupt")
    ap.add_argument("--list", choices=("queries", "llm"))
    ap.add_argument("--gen")
    a = ap.parse_args()
    workloads = ("medallion", "index_serve", "query_sample", "star_analytics", "corpus_batch")
    if not (a.list or a.gen) and a.workload not in workloads:
        fail(f"--workload must be one of {', '.join(workloads)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/; run from a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    build()
    with open(os.path.join(RUNTIME, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(RUNTIME, "jvm_options.txt")) as fh:
        jvm_opts = [l for l in fh.read().split("\n") if l]

    work = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *jvm_opts, HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "graftbench.Main", "--work", work, "--home", HERE,
           "--cores", str(cores), "--scale", a.scale]
    if a.list:
        cmd += ["--list", a.list]
    elif a.gen:
        cmd += ["--gen", os.path.abspath(a.gen)]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.record:
        cmd += ["--record"]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    out_path = os.path.join(work, "stdout.txt")
    try:
        with open(out_path, "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=sys.stderr,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            long = a.record or a.workload in ("star_analytics", "corpus_batch")
            code = wait(proc, LONG_TIMEOUT_S if long else RUN_TIMEOUT_S)
        with open(out_path) as fh:
            lines = fh.read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail("harness timed out", 3)
    if code != 0:
        fail(f"harness exited with {code}", 1)
    if a.list or a.gen:
        print("\n".join(lines))
        return
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail("harness printed no result", 1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
