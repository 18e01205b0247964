"""The benchmark's own tests (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class SeededCorpus(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma, mb = gen.generate(5, a), gen.generate(5, b)
            self.assertEqual(ma, mb)
            cmp = filecmp.dircmp(a, b)
            self.assertEqual(cmp.left_only + cmp.right_only + cmp.diff_files, [])
            for sub in cmp.common_dirs:
                c = filecmp.dircmp(os.path.join(a, sub), os.path.join(b, sub))
                _, mismatch, errors = filecmp.cmpfiles(
                    os.path.join(a, sub), os.path.join(b, sub), c.common_files, shallow=False)
                self.assertEqual(mismatch + errors, [])
            _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
            self.assertEqual(mismatch + errors, [])

    def test_other_seed_other_corpus(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate(5, a)
            gen.generate(6, b)
            self.assertFalse(filecmp.cmp(f"{a}/orders.parquet", f"{b}/orders.parquet",
                                         shallow=False))

    def test_fixture_whale_slots_are_fixed(self):
        self.assertEqual(gen.whales(5), gen.whales(5))
        self.assertEqual(len(set(gen.whales(5))), gen.N_WHALES)

    def test_fixture_requests_come_in_pairs(self):
        with tempfile.TemporaryDirectory() as d:
            roots = gen.generate(5, d, ["star"])["fixture_roots"]
        self.assertEqual([r["whale"] for r in roots[:6]], [False, True] * 3)
        self.assertTrue(set(r["custkey"] for r in roots if r["whale"]) <= set(gen.whales(5)))

    def test_ensure_builds_only_the_parts_asked_for(self):
        with tempfile.TemporaryDirectory() as d:
            out = gen.ensure(5, d, ["docs"])
            self.assertEqual(sorted(os.listdir(out)),
                             ["documents.parquet", "meta.json", "part-docs.json"])
            gen.ensure(5, d, ["stream"])
            with open(os.path.join(out, "meta.json")) as f:
                self.assertEqual(set(json.load(f)["tables"]), {"documents", "stream"})


class TailRule(unittest.TestCase):
    def test_ladder(self):
        for n, pct in [(5, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0),
                       (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
                       (1000, 99.0), (10000, 99.9)]:
            p50, tail, p, count = run.tail([float(i) for i in range(1, n + 1)])
            self.assertEqual((p, count), (pct, n), n)
            self.assertGreaterEqual(n - tail, 10 if n >= 20 else 0, n)

    def test_nearest_rank(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0])[:2], (2.0, 2.0))
        self.assertEqual(run.tail([1.0, 2.0])[0], 1.0)
        self.assertEqual(run.lower_median([4, 1, 3, 2]), 2)
        xs = [float(i) for i in range(1, 41)]
        self.assertEqual(run.tail(xs)[1], 30.0)  # p75 of 40: 10 samples beyond


class MetricGrammar(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_spec(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        names = [w["name"] for w in s["workloads"]] + [m["name"] for m in s["end_to_end"]] \
            + [m["name"] for m in s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertIn(w["name"], run.WORKLOADS)
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in s["end_to_end"])}, s["end_to_end"])

    def test_layer_names_name_modules(self):
        modules = {"operators", "functions", "sources", "tools", "queries", "cachebook",
                   "streaming", "module", "spark", "env", "trace"}
        for m in self.spec["per_layer"]:
            self.assertIn(m["name"].split(".")[0], modules, m["name"])


class SummaryLine(unittest.TestCase):
    def test_parses(self):
        e2e, _ = run.metric_spec(ROOT)
        values = {k: 1.5 for k in e2e}
        line = run.summary_line(3, 0, values, e2e)
        self.assertNotIn("\n", line)
        got = json.loads(line)
        self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(got["correct"], True)
        self.assertEqual(set(got["metrics"]), set(e2e))
        for k, v in got["metrics"].items():
            self.assertEqual(v, {"value": 1.5, "unit": e2e[k]})
        self.assertIs(json.loads(run.summary_line(3, 1, values, e2e))["correct"], False)

    def test_fails_without_sources(self):
        """A directory with only BENCHMARK.json and perfbench/ must fail fast."""
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "slice_fixture", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
