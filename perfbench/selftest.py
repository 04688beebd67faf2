#!/usr/bin/env python3
"""Self-test of the benchmark harness, on the tiny input scale.

Usage, from the root of a checkout:

    python3 perfbench/selftest.py

Runs one short pass of each workload (medallion, index_serve,
query_sample, star_analytics, corpus_batch) and checks that
  - every run succeeds and every digest matches the tiny scale's expected
    digests (perfbench/expected/tiny/);
  - an untraced run of every workload prints every end-to-end metric of
    BENCHMARK.json, and a traced run of each BENCHMARK.json workload prints
    every per-layer metric, each with the unit BENCHMARK.json gives it;
  - a deliberately corrupted expected digest is counted as a failed
    operation (the run reports correct: false).
Exits non-zero on the first failed check. Takes about nine minutes on 4 cores.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(name, result, wanted):
    got = result["metrics"]
    for m in wanted:
        if m["name"] not in got:
            sys.exit(f"FAIL {name}: metric {m['name']} missing")
        if got[m["name"]]["unit"] != m["unit"]:
            sys.exit(f"FAIL {name}: {m['name']} unit {got[m['name']]['unit']}, want {m['unit']}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = [w["name"] for w in spec["workloads"]]
    for w in ("medallion", "index_serve", "query_sample", "star_analytics", "corpus_batch"):
        traces = (0, 1) if w in listed else (0,)
        for t in traces:
            r = run(w, t)
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                sys.exit(f"FAIL {w} trace={t}: {r['failed']} of {r['attempted']} operations failed")
            check_metrics(f"{w} trace={t}", r, spec["end_to_end"] if t == 0 else spec["per_layer"])
            print(f"ok {w} trace={t}: {r['attempted']} operations, {len(r['metrics'])} metrics")
    r = run("medallion", 0, "--corrupt", "v1/gold")
    if r["correct"] or r["failed"] < 1:
        sys.exit("FAIL corrupted digest was not counted as a failure")
    print(f"ok corrupted digest: {r['failed']} of {r['attempted']} operations failed")


if __name__ == "__main__":
    main()
