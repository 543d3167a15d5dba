#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark (perfbench/build.py). The JVM prints an information line (named
metrics, machine state at both ends, layer self times) and, as the last
line of standard output, the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to .bench_build/perfbench/traces/.

Extra options: --smoke 1 (small inputs, for the benchmark's own tests),
--corrupt 1 (perturb every expected value, so every checked operation must
fail), --out FILE (append the run's record to a JSON-lines file for
perfbench/compare.py).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["join_tile", "sql_join", "table_reads", "ingest_mutate"]
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# a run must finish within 180 s; the JVM gets what the build left of it
DEADLINE_S = 175


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    t0 = time.time()
    try:
        classes = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    built_s = time.time() - t0

    base = build.OUT
    work = os.path.join(base, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    spans = os.path.join(base, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap under the parallel collector: the young generation is
    # the same size on every run, so peak RSS tracks the work, not GC sizing
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--smoke", str(a.smoke), "--corrupt", str(a.corrupt),
            "--work", work, "--spans", spans]
    # the first run of a checkout may spend most of its time building
    budget = max(60.0, DEADLINE_S - built_s) if built_s < 60 else 900 - built_s
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=budget)
    except subprocess.TimeoutExpired as e:
        print("perfbench: run timed out after %.0f s" % budget, file=sys.stderr)
        sys.stderr.write((e.stderr or b"")[-4000:].decode("utf-8", "replace")
                         if isinstance(e.stderr, bytes) else (e.stderr or "")[-4000:])
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(base, "last-stderr.txt"), "w") as fh:
        fh.write(p.stderr)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: the JVM exited with code %d and no result" % p.returncode,
              file=sys.stderr)
        sys.stderr.write(p.stderr[-4000:])
        sys.stderr.write(p.stdout[-2000:])
        return 1
    info = None
    for l in lines[:-1]:
        if l.startswith('{"perfbench"'):
            info = json.loads(l)["perfbench"]
            print(l)
    if a.out:
        with open(a.out, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                 "result": result, "info": info}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
