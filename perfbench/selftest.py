#!/usr/bin/env python3
"""Self-tests of the benchmark (not of the program it measures).

    python3 perfbench/selftest.py           # spec, generator, output format
    python3 perfbench/selftest.py --runs    # also runs every workload once
                                            # per trace mode (several minutes)
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
WORK_DIR = os.path.join(run.ROOT, ".bench_build", "perfbench", "selftest")
RUNS = "--runs" in sys.argv


def spec():
    return run.spec()


def all_metrics(b):
    return b["end_to_end"] + b["per_layer"]


class Spec(unittest.TestCase):
    def test_top_level_shape(self):
        b = spec()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(b["command"], ["python3", "perfbench/run.py"])
        self.assertIsInstance(b["run_seconds"], int)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)

    def test_every_name_is_valid_and_unique(self):
        b = spec()
        names = [w["name"] for w in b["workloads"]] + [m["name"] for m in all_metrics(b)]
        for n in names:
            self.assertTrue(NAME.fullmatch(n) and len(n) <= 64 and n[0].isalnum(), n)
        self.assertEqual(len(names), len(set(names)))

    def test_metric_fields(self):
        b = spec()
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25, m)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in all_metrics(b):
            self.assertTrue(UNIT.fullmatch(m["unit"]), m)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_workloads_are_the_runners(self):
        b = spec()
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(0 < len(w["why"]) <= 200 and "\n" not in w["why"])


class Generator(unittest.TestCase):
    def test_pca_input_digest_follows_the_seed(self):
        a, b, c = (gen.digest(gen.pca_rows(s)) for s in (5, 5, 6))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_planted_spectrum_separates_the_top_components(self):
        lam = gen.planted_spectrum()
        self.assertGreater(gen.PLANTED, gen.K + 1)
        self.assertTrue(np.all(np.diff(lam) < 0))

    def test_fixtures_follow_the_seed(self):
        dirs = [os.path.join(WORK_DIR, f"fx{i}") for i in range(3)]
        for d, seed in zip(dirs, (5, 5, 6)):
            shutil.rmtree(d, ignore_errors=True)
            gen.fixtures(seed, 0.001, d)
        try:
            for t in gen.TABLES:
                a, b, c = (pq.read_table(os.path.join(d, f"{t}.parquet")) for d in dirs)
                self.assertTrue(a.equals(b), t)
                if t not in ("region", "nation"):
                    self.assertFalse(a.equals(c), t)
        finally:
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)


class ResultLine(unittest.TestCase):
    def fake(self, names, reconcile_err=0.05):
        return dict({n: 1.5 for n in names}, **{"trace.reconcile_err": reconcile_err})

    def test_every_metric_is_reported_with_its_unit(self):
        b = spec()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            names = [m["name"] for m in b[key]]
            line, problems = run.result_line(b, trace, self.fake(names), 10, 0)
            self.assertEqual(problems, [])
            again = json.loads(json.dumps(line))
            self.assertEqual(set(again), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(again["correct"])
            self.assertEqual(sorted(again["metrics"]), sorted(names))
            units = {m["name"]: m["unit"] for m in b[key]}
            for n, v in again["metrics"].items():
                self.assertEqual(set(v), {"value", "unit"})
                self.assertEqual(v["unit"], units[n])

    def test_a_missing_end_to_end_metric_is_not_correct(self):
        b = spec()
        names = [m["name"] for m in b["end_to_end"]][1:]
        line, problems = run.result_line(b, 0, self.fake(names), 10, 0)
        self.assertFalse(line["correct"])
        self.assertEqual(len(problems), 1)

    def test_a_failed_operation_is_not_correct(self):
        b = spec()
        names = [m["name"] for m in b["per_layer"]]
        line, _ = run.result_line(b, 1, self.fake(names), 10, 2)
        self.assertFalse(line["correct"])
        self.assertEqual(line["metrics"]["fail_frac"]["value"], 0.2)

    def test_a_traced_run_that_does_not_reconcile_is_not_correct(self):
        b = spec()
        names = [m["name"] for m in b["per_layer"]]
        line, problems = run.result_line(
            b, 1, self.fake(names, run.RECONCILE_TOL * 1.2), 10, 0)
        self.assertFalse(line["correct"])
        self.assertEqual(len(problems), 1)
        self.assertIn("reconcile", problems[0])
        line, _ = run.result_line(b, 1, self.fake(names, run.RECONCILE_TOL * 0.8), 10, 0)
        self.assertTrue(line["correct"])
        missing = self.fake(names)
        del missing["trace.reconcile_err"]
        line, _ = run.result_line(b, 1, missing, 10, 0)
        self.assertFalse(line["correct"])


class CompareVerdict(unittest.TestCase):
    METRIC = {"name": "warm_s", "unit": "s", "better": "lower", "bound": 0.1}
    PARENT = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 10.05]

    def verdict(self, change, parent=None):
        return compare.verdict(self.METRIC, parent or self.PARENT, change)[3]

    def test_gain_needs_nine_tenths_of_the_pairs(self):
        self.assertEqual(self.verdict([x * 0.8 for x in self.PARENT]), "gain")
        mixed = [x * 0.8 for x in self.PARENT[:8]] + [x * 1.01 for x in self.PARENT[8:]]
        self.assertNotEqual(self.verdict(mixed), "gain")

    def test_regression_beyond_the_bound(self):
        self.assertEqual(self.verdict([x * 1.2 for x in self.PARENT]), "regression")

    def test_wide_parent_spread_is_unresolved(self):
        wide = [8.0, 12.0, 9.0, 11.0, 8.5, 11.5, 9.5, 10.5, 8.0, 12.0]
        self.assertEqual(self.verdict(list(reversed(wide)), wide), "unresolved")

    def test_same_numbers_are_flat(self):
        self.assertEqual(self.verdict(list(self.PARENT)), "flat")


class Bare(unittest.TestCase):
    def test_fails_without_the_program(self):
        """Only BENCHMARK.json and perfbench/: no result, non-zero exit."""
        bare = os.path.join(WORK_DIR, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(run.SPEC, bare)
        env = {k: v for k, v in os.environ.items() if k != "PERFBENCH_ROOT"}
        try:
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "ops_driver", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=bare, env=env,
                               capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


@unittest.skipUnless(RUNS, "pass --runs to run every workload")
class Runs(unittest.TestCase):
    def test_each_workload_reports_every_metric(self):
        b = spec()
        for w in run.WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                        "--workload", w, "--seed", "3", "--seconds",
                                        "1", "--trace", str(trace)],
                                       capture_output=True, text=True, timeout=900)
                    self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                    line = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(line), {"correct", "attempted", "failed",
                                                 "metrics"})
                    self.assertTrue(line["correct"], p.stdout[-2000:])
                    self.assertGreaterEqual(line["attempted"], 1)
                    self.assertEqual(sorted(line["metrics"]),
                                     sorted(m["name"] for m in b[key]))


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--runs"])
