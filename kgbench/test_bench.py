#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size:

    python3 -m unittest kgbench/test_bench.py

Checks that every declared metric is printed with its unit on both
workloads, that each workload measures its own layers, that a perturbed
triple set fails the output check, that a conversion which drops triples
fails the pinned check at a seed without pins of its own, and that the
command fails without the program's sources. Takes about five minutes (six
JVM runs).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# per-layer metrics each workload must measure itself (the rest read 0)
COMMON = {"gc_s", "spark.tasks", "ops_failed_frac", "trace.overhead_pct"}
QUERY = {m["name"] for m in SPEC["per_layer"]
         if m["name"].startswith("query") or m["name"] in
         ("similarity.s", "dedup.s", "streaming.s", "canon.query_s", "pipeline.curate_s")}
OWN = {"kg_build": {m["name"] for m in SPEC["per_layer"]} - QUERY,
       "query_heavy": QUERY | COMMON}


def run(*args, cwd=ROOT, script=os.path.join(BENCH, "run.py")):
    p = subprocess.run([sys.executable, script, "--size", "tiny", "--seconds", "2", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p, lines


class BenchmarkTest(unittest.TestCase):

    def check_metrics(self, workload, trace):
        p, lines = run("--workload", workload, "--trace", str(trace))
        self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-2000:])
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(list(result["metrics"]), [m["name"] for m in declared])
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        # the human-readable lines name every metric with its unit too
        text = "\n".join(lines[:-1])
        if trace:
            absent = next((l for l in lines if "not run on this workload" in l), "")
            for name in OWN[workload]:
                self.assertNotIn(f" {name},", absent + ",", f"{workload} did not measure {name}")
                self.assertIn(f"layer {name} = ", text)
        else:
            for m in declared:
                self.assertIn(f"e2e {m['name']} = ", text)

    def test_kg_build_metrics(self):
        self.check_metrics("kg_build", 0)
        self.check_metrics("kg_build", 1)

    def test_query_heavy_metrics(self):
        self.check_metrics("query_heavy", 0)
        self.check_metrics("query_heavy", 1)

    def test_perturbed_triples_fail_the_check(self):
        p, lines = run("--workload", "kg_build", "--perturb", "output")
        self.assertNotEqual(p.returncode, 0)
        self.assertFalse(json.loads(lines[-1])["correct"])
        self.assertIn("check unit_store: FAILED", p.stdout)
        self.assertIn("check recrawl_store: FAILED", p.stdout)

    def test_changed_conversion_fails_the_pinned_check(self):
        # every triple set loses the same rows, references included, so the
        # run agrees with itself; only the fixed corpus's pins can object
        p, lines = run("--workload", "kg_build", "--seed", "7", "--perturb", "program")
        self.assertNotEqual(p.returncode, 0)
        self.assertFalse(json.loads(lines[-1])["correct"])
        self.assertIn("check unit_store: ok", p.stdout)
        self.assertIn("check recrawl_store: ok", p.stdout)
        self.assertIn("check pinned_fixed_unit_store: FAILED", p.stdout)
        self.assertIn("check pinned_fixed_canonical_store: FAILED", p.stdout)

    def test_fails_without_program_sources(self):
        bare = os.path.join(BENCH, "work", "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(bare, "kgbench"),
                        ignore=shutil.ignore_patterns("target", "work", "out"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            p, lines = run("--workload", "kg_build", cwd=bare,
                           script=os.path.join(bare, "kgbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(any(l.startswith("{") for l in lines))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
