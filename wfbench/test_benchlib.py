"""Self-tests of the benchmark's own logic; no JVM needed.

    python3 -m unittest discover -s wfbench -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in benchlib.WORKLOADS:
            a = json.dumps(benchlib.make_inputs(w, 7, 15), sort_keys=True)
            b = json.dumps(benchlib.make_inputs(w, 7, 15), sort_keys=True)
            self.assertEqual(a, b, w)

    def test_other_seed_other_inputs(self):
        for w in benchlib.WORKLOADS:
            self.assertNotEqual(benchlib.make_inputs(w, 1, 15),
                                benchlib.make_inputs(w, 2, 15), w)

    def test_run_ids_distinct(self):
        for w in benchlib.WORKLOADS:
            ids = benchlib.make_inputs(w, 3, 15)["run_ids"]
            self.assertEqual(len(ids), len(set(ids)), w)

    def test_serve_aliases_cover_every_email(self):
        inp = benchlib.make_inputs("serve_mixed", 5, 15)
        emails = {e for _, e in inp["preload"]}
        asked = {a for r in inp["readers"] for k, a in r if k == "alias"}
        self.assertTrue(asked <= emails)
        self.assertEqual(len(emails), benchlib.SERVE_EMAILS)


class PercentileTest(unittest.TestCase):
    def test_refuses_tail_with_fewer_than_ten_beyond(self):
        with self.assertRaises(benchlib.TooFewSamples):
            benchlib.percentile(range(99), 90)     # 9.9 beyond
        with self.assertRaises(benchlib.TooFewSamples):
            benchlib.percentile(range(39), 75)     # 9.75 beyond
        with self.assertRaises(benchlib.TooFewSamples):
            benchlib.percentile([], 50)

    def test_accepts_tail_with_ten_beyond(self):
        self.assertAlmostEqual(benchlib.percentile(range(100), 90), 89.1)
        self.assertAlmostEqual(benchlib.percentile(range(40), 75), 29.25)
        self.assertEqual(benchlib.percentile(range(1, 22), 50), 11)

    def test_spread(self):
        med, q1, q3, sp = benchlib.spread([10, 10, 10, 10])
        self.assertEqual((med, sp), (10, 0.0))
        med, q1, q3, sp = benchlib.spread([8, 9, 10, 11, 12])
        self.assertEqual(med, 10)
        self.assertAlmostEqual(sp, (q3 - q1) / 10)


class LauncherTest(unittest.TestCase):
    def run_py(self, cwd, env=None):
        return subprocess.run(
            [sys.executable, os.path.join(cwd, "wfbench", "run.py"),
             "--workload", "chain_sparse", "--seed", "1"],
            cwd=cwd, env=env, capture_output=True, text=True, timeout=60)

    def test_refuses_measurement_knobs(self):
        env = dict(os.environ, SPARK_GRAFT_ROUND_GC="1")
        out = self.run_py(os.path.dirname(HERE), env)
        self.assertEqual(out.returncode, 2)
        self.assertEqual(out.stdout, "")

    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "wfbench"),
                            ignore=shutil.ignore_patterns(
                                "target", "__pycache__"))
            shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), d)
            out = self.run_py(d)
        self.assertNotEqual(out.returncode, 0)
        self.assertEqual(out.stdout, "")


if __name__ == "__main__":
    unittest.main()
