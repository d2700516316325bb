#!/usr/bin/env python3
"""Self-tests of the benchmark at tiny size (about five minutes).

    python3 -m unittest perfbench/test_perfbench.py

Each test runs perfbench/run.py with `--scale tiny` and its own inputs
cache under .bench_build/perfbench/selftest.
"""

import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

INPUTS = os.path.join(run.BUILD, "selftest")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, seed, trace=0, inputs_root=INPUTS):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny", "--inputs-root", inputs_root],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py exit {p.returncode}: {p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def manifest(workload, seed, inputs_root=INPUTS):
    d = os.path.join(inputs_root, f"{workload}-s{seed}-tiny-{run.fingerprint()}")
    return d, os.path.join(d, "manifest.json")


class MetricNames(unittest.TestCase):
    def check(self, result, specs):
        self.assertEqual(set(result["metrics"]), {m["name"] for m in specs})
        for m in specs:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], (int, float))

    def test_end_to_end_names_and_units_on_every_workload(self):
        for w in SPEC["workloads"]:
            result, lines = bench(w["name"], 1)
            self.check(result, SPEC["end_to_end"])
            self.assertTrue(result["correct"])
            self.assertEqual(result["failed"], 0)
            self.assertIn("output check: PASS", lines)

    def test_per_layer_names_and_units_in_traced_run(self):
        result, lines = bench("crawl-round", 1, trace=1)
        self.check(result, SPEC["per_layer"])
        self.assertTrue(result["correct"], "\n".join(lines[-25:]))


class OutputChecks(unittest.TestCase):
    def test_corrupted_manifest_fails_every_op(self):
        bench("warc-ingest", 3)
        src, path = manifest("warc-ingest", 3)
        root = os.path.join(run.BUILD, "selftest-corrupt")
        shutil.rmtree(root, ignore_errors=True)
        dst, bad = manifest("warc-ingest", 3, root)
        shutil.copytree(src, dst)
        with open(bad) as f:
            m = json.load(f)
        m["extract_rows"] += 1
        with open(bad, "w") as f:
            json.dump(m, f)
        result, lines = bench("warc-ingest", 3, inputs_root=root)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])
        self.assertTrue(any(l.split()[:2] == ["failed_frac", "1.0000"] for l in lines), lines)
        shutil.rmtree(root, ignore_errors=True)

    def test_other_seed_changes_inputs_not_metric_names(self):
        a, _ = bench("crawl-round", 1)
        b, _ = bench("crawl-round", 2)
        self.assertEqual(set(a["metrics"]), set(b["metrics"]))
        with open(manifest("crawl-round", 1)[1]) as f1, open(manifest("crawl-round", 2)[1]) as f2:
            m1, m2 = json.load(f1), json.load(f2)
        self.assertNotEqual(m1["scheduled_digest"], m2["scheduled_digest"])
        self.assertEqual(set(m1), set(m2))


if __name__ == "__main__":
    unittest.main()
