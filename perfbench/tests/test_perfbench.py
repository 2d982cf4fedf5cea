"""Tests of the benchmark itself, at smoke sizes.

    python3 -m unittest discover -s perfbench/tests

They check that every run prints the metric names and units BENCHMARK.json
declares, that the engine's answers pass the benchmark's checks, that the
span self-time arithmetic holds, and that a directory without the engine's
sources fails without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, RUN] + list(args), cwd=cwd, timeout=900,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


class SmokeRuns(unittest.TestCase):

    def check_run(self, workload, trace):
        proc = run("--workload", workload, "--seed", "5", "--seconds", "1",
                   "--trace", str(trace), "--size", "smoke")
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], proc.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1 + trace)
        declared = spec()["per_layer" if trace else "end_to_end"]
        self.assertEqual(list(result["metrics"]), [m["name"] for m in declared])
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        return result["metrics"]

    def test_pipeline_untraced(self):
        metrics = self.check_run("pipeline_fresh", 0)
        for name in ("setup_s", "op_s", "throughput_per_s", "second_phase_s", "retained_heap_mb"):
            self.assertGreater(metrics[name]["value"], 0, name)

    def test_pipeline_traced(self):
        m = {k: v["value"] for k, v in self.check_run("pipeline_fresh", 1).items()}
        self.assertEqual(m["pipeline.commit_count"], 7)
        self.assertGreater(m["pipeline.resume.read_count"], 0)
        self.assertGreater(m["ops.minhash.candidates"], 0)
        self.assertLessEqual(m["ops.minhash.verify_pass_rate"], 1)
        self.assertGreater(m["trace.self.pipeline_s"], 0)
        self.assertEqual(m["catalog.q_pages_pipeline.s"], 0)

    def test_sketch_untraced(self):
        metrics = self.check_run("sketch_rollup", 0)
        self.assertGreater(metrics["throughput_per_s"]["value"], 0)

    def test_sketch_traced(self):
        m = {k: v["value"] for k, v in self.check_run("sketch_rollup", 1).items()}
        self.assertGreater(m["spark.sketch.merge_phase_s"], 0)
        self.assertGreater(m["catalog.q_pages_pipeline.jobs"], 0)
        self.assertGreater(m["trace.self.catalog_s"], 0)
        self.assertEqual(m["pipeline.commit_count"], 0)


class Harness(unittest.TestCase):

    def test_selftest(self):
        proc = run("--selftest")
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        self.assertEqual(proc.stdout.strip().splitlines()[-1], "selftest ok")

    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            proc = subprocess.run(
                [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
                 "sketch_rollup", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=bare, timeout=180, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn('"correct"', proc.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)

    def test_declared_metrics_are_well_formed(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(max(m["bound"] for m in s["end_to_end"]), setup["bound"])


if __name__ == "__main__":
    unittest.main()
