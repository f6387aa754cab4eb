"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import studygen  # noqa: E402


def _digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(range(19)))
        self.assertEqual(metrics.tail(range(20)), (9, 50.0, 20))

    def test_picks_highest_qualifying_percentile(self):
        self.assertEqual(metrics.tail(range(40))[1], 75.0)
        self.assertEqual(metrics.tail(range(100))[1], 90.0)
        self.assertEqual(metrics.tail(range(200))[1], 95.0)
        self.assertEqual(metrics.tail(range(1000))[1], 99.0)
        self.assertEqual(metrics.tail(range(10000))[1], 99.9)

    def test_at_least_ten_beyond_the_reported_value(self):
        for n in (20, 37, 100, 451, 2000):
            xs = list(range(n))
            value, _, count = metrics.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class NameGrammar(unittest.TestCase):
    def test_valid_names(self):
        for n in ("setup_s", "spark.stages_per_query", "gc.s", "a-b", "9x"):
            self.assertEqual(metrics.check_name(n), n)

    def test_invalid_names(self):
        for n in ("", "has space", "slash/name", "_lead", ".lead", "x" * 65,
                  "ünï", "a:b"):
            with self.assertRaises(ValueError):
                metrics.check_name(n)

    def test_every_reported_name_is_valid(self):
        for n in list(run.END_TO_END) + list(run.LAYER_UNITS):
            metrics.check_name(n)

    def test_benchmark_json_matches_the_runner(self):
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         run.LAYER_UNITS)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))


class Accounting(unittest.TestCase):
    OPS = [{"id": 1, "error": None}, {"id": 2, "error": "boom"},
           {"id": 3, "error": None}, {"id": 4, "error": None}]

    def test_throwing_op_fails(self):
        self.assertEqual(metrics.account(self.OPS, {1: True, 3: True, 4: True}), (4, 1))

    def test_wrong_output_fails(self):
        self.assertEqual(metrics.account(self.OPS, {1: True, 3: "row count", 4: True}), (4, 2))

    def test_op_without_verdict_is_never_dropped(self):
        self.assertEqual(metrics.account(self.OPS, {1: True}), (4, 3))

    def test_clinical_check_flags_wrong_counts(self):
        with tempfile.TemporaryDirectory() as d:
            manifest = studygen.generate(d, 20, 5)
        ops = [
            {"id": 1, "kind": "readback", "name": "xpt", "error": None,
             "observed": {"rows": {"DM": 20, "AE": 200, "LB": 800,
                                   "SUPPDM": 20, "SUPPAE": 200}}},
            {"id": 2, "kind": "readback", "name": "xpt", "error": None,
             "observed": {"rows": {"DM": 19}}},
            {"id": 3, "kind": "validate", "name": "DM", "error": None,
             "observed": {"issues": {
                 "DM:SEX:InvalidCtValue": manifest["planted"]["ct_violations"]["DM"]}}},
            {"id": 4, "kind": "validate", "name": "DM", "error": None,
             "observed": {"issues": {"DM:SEX:InvalidCtValue": 10**6}}},
            {"id": 5, "kind": "validate_cross", "name": "study", "error": None,
             "observed": {"issues": {}}},
        ]
        verdicts = run.check_clinical({"ops": ops}, manifest)
        self.assertIs(verdicts[1], True)
        self.assertIsNot(verdicts[2], True)
        self.assertIs(verdicts[3], True)
        self.assertIsNot(verdicts[4], True)
        self.assertEqual(verdicts[5] is True,
                         manifest["planted"]["orphan_subjects"]["AE"] == 0)
        self.assertEqual(metrics.account(ops, verdicts)[0], 5)


class LayerRollup(unittest.TestCase):
    def test_planning_is_attributed_by_time_and_taken_out_of_the_run(self):
        # one query op (ms 1000-2000): a planning in its build phase, one in
        # its run phase (1500-2000), and one after the op that is not its own
        result = {
            "passes": [1.0], "gc_s": 0.0, "trace_self_s": 0.0, "block_peaks": {},
            "jobs": [],
            "ops": [{"id": 1, "kind": "query", "name": "q", "start_ms": 1000,
                     "end_ms": 2000, "seconds": 1.0,
                     "phases": {"build": 0.5, "run": 0.5}, "observed": {}}],
            "spans": [{"id": 2, "name": "build", "start_ms": 1000, "end_ms": 1500,
                       "parent": 1, "op": 1},
                      {"id": 3, "name": "run", "start_ms": 1500, "end_ms": 2000,
                       "parent": 1, "op": 1}],
            "plannings": [{"start_ms": 1100, "plan_ms": 30},
                          {"start_ms": 1600, "plan_ms": 100},
                          {"start_ms": 2500, "plan_ms": 999}],
        }
        out = metrics.layers(result, 4)
        self.assertAlmostEqual(out["catalyst.plan_s"], 0.13)
        self.assertAlmostEqual(out["exec.run_s"], 0.4)


class OracleCheck(unittest.TestCase):
    def test_right_wrong_and_missing_outputs(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from oracle import Oracle
        with tempfile.TemporaryDirectory() as d:
            datagen.generate(os.path.join(d, "tables"), 0.0005, 1)
            oracle = Oracle(os.path.join(d, "tables"),
                            {"q": "SELECT r_regionkey AS k FROM region ORDER BY k"})
            for name, keys in (("right", range(5)), ("short", range(4)),
                               ("wrong", [0, 1, 2, 3, 9])):
                os.makedirs(os.path.join(d, name))
                pq.write_table(pa.table({"k": pa.array(keys, pa.int32())}),
                               os.path.join(d, name, "part-0.parquet"))
            self.assertIsNone(oracle.check("q", os.path.join(d, "right")))
            self.assertIn("row count", oracle.check("q", os.path.join(d, "short")))
            self.assertIn("col k", oracle.check("q", os.path.join(d, "wrong")))
            self.assertEqual(oracle.check("q", os.path.join(d, "none")), "no output")


class Generators(unittest.TestCase):
    def test_study_is_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            studygen.generate(a, 40, 11)
            studygen.generate(b, 40, 11)
            studygen.generate(c, 40, 12)
            self.assertEqual(_digest(a), _digest(b))
            self.assertNotEqual(_digest(a), _digest(c))

    def test_study_manifest_counts_match_files(self):
        with tempfile.TemporaryDirectory() as d:
            m = studygen.generate(d, 40, 11)
            for dom, name in m["files"].items():
                with open(os.path.join(d, name), encoding="utf-8") as f:
                    text = f.read()
                self.assertTrue(text.startswith("﻿"))
                lines = text.splitlines()
                self.assertEqual(len(lines) - 2, m["rows"][dom])
            with open(os.path.join(d, m["files"]["AE"]), encoding="utf-8-sig") as f:
                self.assertEqual(f.read().count('-NK"'), m["planted"]["partial_dates"]["AE"])
            with open(os.path.join(d, "manifest.json")) as f:
                self.assertEqual(json.load(f), m)

    def test_tables_are_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.generate(a, 0.0005, 3)
            datagen.generate(b, 0.0005, 3)
            self.assertEqual(sorted(os.listdir(a)),
                             sorted(f"{t}.parquet" for t in datagen.TABLES))
            self.assertEqual(_digest(a), _digest(b))


if __name__ == "__main__":
    unittest.main()
