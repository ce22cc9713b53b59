"""Self-tests of the benchmark: every workload at tiny size.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

Each case starts one benchmark JVM (about half a minute each).
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, trace=0, corrupt=None, cwd=ROOT, script=RUN):
    cmd = [sys.executable, script, "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result, p.stderr


class BenchmarkSelfTest(unittest.TestCase):

    def assert_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        got = result["metrics"]
        self.assertEqual(set(got), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], (int, float), m["name"])

    def test_every_workload_prints_every_metric_with_its_unit(self):
        s = spec()
        for w in s["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    code, result, err = run(w["name"], trace)
                    self.assertEqual(code, 0, err[-3000:])
                    self.assertTrue(result["correct"])
                    self.assert_metrics(result, s[key])
                    if trace == 0:
                        for name, m in result["metrics"].items():
                            self.assertGreater(m["value"], 0, name)

    def test_traced_crawl_reports_the_backfill_defect(self):
        code, result, err = run("crawl_build", 1)
        self.assertEqual(code, 0, err[-3000:])
        self.assertEqual(result["metrics"]["stream.backfill_failed_share"]["value"], 1.0)
        self.assertIn("backfill drain failed", err)

    def test_corrupted_store_trips_the_check(self):
        for trace in (0, 1):
            with self.subTest(trace=trace):
                code, result, err = run("crawl_build", trace, corrupt="store")
                self.assertEqual(code, 1)
                self.assertFalse(result["correct"])
                self.assertIn("CHECK FAILED", err)

    def test_corrupted_leaf_result_trips_the_check(self):
        code, result, err = run("operator_suite", 0, corrupt="leaf")
        self.assertEqual(code, 1)
        self.assertFalse(result["correct"])
        self.assertIn("rows:digest", err)

    def test_fails_without_the_program_sources(self):
        os.makedirs(os.path.join(BENCH, "work"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(BENCH, "work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "work", "out", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "crawl_build",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
