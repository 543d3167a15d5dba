#!/usr/bin/env python3
"""Smoke tests of the benchmark itself, on small inputs.

    python3 -m unittest discover -s perfbench/tests -v     (from the repo root)

Each workload of BENCHMARK.json runs at smoke size untraced and traced; the
tests check that every declared metric is printed with its unit, that a run
with perturbed expectations (--corrupt 1) reports failed operations, that a
run in a directory without the engine sources fails without a result, and
that the workloads outside BENCHMARK.json still pass by name. The untraced
runs use seed 990001, which was never used while the benchmark was built, as
the held-out check.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
HELD_OUT_SEED = 990001
# workloads run.py accepts that BENCHMARK.json does not list
UNLISTED = ["join_tile", "ingest_mutate"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, seed, trace=0, corrupt=0, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "2", "--trace", str(trace), "--smoke", "1", "--corrupt", str(corrupt)]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if p.returncode == 0 and lines else None), p


class SmokeTest(unittest.TestCase):

    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in declared))
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_end_to_end_on_held_out_seed(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                rc, res, p = run(w["name"], HELD_OUT_SEED)
                self.assertEqual(rc, 0, p.stderr[-2000:])
                self.check_metrics(res, SPEC["end_to_end"])
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                for m in SPEC["end_to_end"]:
                    self.assertNotEqual(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_run_prints_every_layer_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                rc, res, p = run(w["name"], 7, trace=1)
                self.assertEqual(rc, 0, p.stderr[-2000:])
                self.check_metrics(res, SPEC["per_layer"])
                self.assertTrue(res["correct"])
                spans = os.path.join(ROOT, ".bench_build", "perfbench", "traces",
                                     "%s-seed7.jsonl" % w["name"])
                with open(spans) as fh:
                    first = json.loads(fh.readline())
                self.assertEqual(set(first), {"id", "parent", "op", "name", "start_ns", "end_ns"})

    def test_wrong_expected_value_counts_as_failed(self):
        for w in SPEC["workloads"] + [{"name": n} for n in UNLISTED]:
            with self.subTest(workload=w["name"]):
                rc, res, p = run(w["name"], 5, corrupt=1)
                self.assertEqual(rc, 0, p.stderr[-2000:])
                self.assertFalse(res["correct"])
                self.assertGreaterEqual(res["failed"], 1)

    def test_unlisted_workloads_run_by_name(self):
        for name in UNLISTED:
            with self.subTest(workload=name):
                rc, res, p = run(name, HELD_OUT_SEED)
                self.assertEqual(rc, 0, p.stderr[-2000:])
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)

    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "perfbench", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for path in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                                ignore=shutil.ignore_patterns("__pycache__"))
            cmd = SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                                     "--seconds", "1", "--trace", "0"]
            p = subprocess.run(cmd, cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
