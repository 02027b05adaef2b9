#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_bench.py

- the folder generator gives the same manifest hashes for the same seed, and
  other hashes for another seed;
- every workload runs at sf0.001 with no failed operation, and prints exactly
  the end-to-end metrics of BENCHMARK.json (untraced) or its per-layer
  metrics (traced).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

import run

SF = "sf0.001"
SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def bench(workload, trace, seed=7, seconds=2):
    p = subprocess.run(
        [sys.executable, str(run.BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--sf", SF],
        capture_output=True, text=True, timeout=400, cwd=os.getcwd())
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    assert p.returncode == 0, f"{workload} exited with {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def manifests(workload, seed):
    work = run.build_dir() / "work" / f"test-manifests-{workload}-{seed}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        code, out = run.java(run.build(), [
            "--manifests", "--workload", workload, "--seed", str(seed),
            "--data", str(run.data_dir(SF))], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert code == 0
    return [l for l in out.splitlines() if l.startswith("17")]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_manifests(self):
        first = manifests("ingest_bulk", 11)
        self.assertTrue(first)
        self.assertEqual(first, manifests("ingest_bulk", 11))
        self.assertNotEqual(first, manifests("ingest_bulk", 12))


class WorkloadTest(unittest.TestCase):
    def test_workloads_pass_and_print_the_declared_metrics(self):
        e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        for w in [w["name"] for w in SPEC["workloads"]]:
            for trace, names in ((0, e2e), (1, layers)):
                with self.subTest(workload=w, trace=trace):
                    r = bench(w, trace)
                    self.assertTrue(r["correct"])
                    self.assertGreaterEqual(r["attempted"], 1)
                    self.assertEqual(r["failed"], 0)
                    got = {k: v["unit"] for k, v in r["metrics"].items()}
                    self.assertEqual(got, names)
                    if trace == 0:
                        self.assertTrue(all(v["value"] > 0 for v in r["metrics"].values()))


if __name__ == "__main__":
    unittest.main()
