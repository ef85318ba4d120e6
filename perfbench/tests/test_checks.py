"""Self-tests for the benchmark's checkers: each must pass a right output
and reject a planted wrong one. A checker that passes everything is a
broken checker.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402


def machine_csv(path):
    """Two cycles at 23:59 (hour 23 of day 1) and one at 00:00 (hour 0 of
    day 2) for one machine; the second cycle's AS_Check is an error."""
    rows = ["timestamp,machine_id,event_name,parameter_name,value"]

    def cycle(start_s, ms, as_value, pick_force):
        t = lambda off: f"2024-10-16T23:59:{start_s:02d}.{off:03d}Z" if start_s < 60 \
            else f"2024-10-17T00:00:{start_s - 60:02d}.{off:03d}Z"
        rows.extend([
            f"{t(0)},M1,Cycle_Start,,",
            f"{t(100)},M1,AS_Check,AS_VacuumUnits,{as_value}",
            f"{t(200)},M1,Pick_Check,PP_Force,{pick_force}",
            f"{t(ms)},M1,Cycle_End,,",
        ])

    cycle(10, 600, 55.0, 100.0)
    cycle(20, 700, 75.5, 80.0)
    cycle(65, 650, 50.0, 90.0)
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")


class MachineDayChecker(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.csv = os.path.join(self.dir.name, "day.csv")
        machine_csv(self.csv)
        self.expected = checks.expected_summary(self.csv)

    def tearDown(self):
        self.dir.cleanup()

    def test_recomputes_known_summary(self):
        e = checks._keyed(self.expected)
        late, early = e.loc[("2024-10-16", 23, "M1")], e.loc[("2024-10-17", 0, "M1")]
        self.assertEqual(late["cycle_count"], 2)
        self.assertEqual(late["as_vacuum_error_count"], 1)
        self.assertAlmostEqual(late["avg_cycle_time_seconds"], 0.65, places=5)
        self.assertAlmostEqual(late["max_pick_force"], 100.0, places=5)
        self.assertEqual(early["cycle_count"], 1)
        self.assertEqual(early["as_vacuum_error_count"], 0)

    def test_accepts_right_summary(self):
        got = self.expected.copy()
        got["avg_cycle_time_seconds"] += 0.0004  # below the 3-dp rounding
        self.assertEqual(checks.compare_summary(self.expected, got, "s"), [])

    def test_rejects_cycle_count_off_by_one(self):
        got = self.expected.copy()
        got.loc[0, "cycle_count"] += 1
        self.assertTrue(checks.compare_summary(self.expected, got, "s"))

    def test_rejects_wrong_force_stat_and_missing_hour(self):
        got = self.expected.copy()
        got.loc[0, "avg_pick_force"] += 0.05
        self.assertTrue(checks.compare_summary(self.expected, got, "s"))
        self.assertTrue(checks.compare_summary(self.expected, self.expected.iloc[1:], "s"))

    def test_derby_upper_case_names_are_matched(self):
        got = self.expected.rename(columns=str.upper)
        self.assertEqual(checks.compare_summary(self.expected, got, "s"), [])


class CatalogChecker(unittest.TestCase):
    def setUp(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT i % 7 AS k, i * 0.25 AS v FROM range(100) r(i)")
        self.expected = con.execute("SELECT k, sum(v) AS s, count(*) AS n FROM t GROUP BY k").df()

    def test_accepts_reordered_result_with_float_noise(self):
        got = self.expected.sample(frac=1.0, random_state=1).reset_index(drop=True)
        got["s"] += 1e-7
        self.assertEqual(checks.compare_result(self.expected, got), [])

    def test_rejects_dropped_row(self):
        got = self.expected.iloc[1:].reset_index(drop=True)
        self.assertTrue(checks.compare_result(self.expected, got))

    def test_rejects_changed_value(self):
        got = self.expected.copy()
        got.loc[2, "n"] += 1
        self.assertTrue(checks.compare_result(self.expected, got))


def words(n, offset=0):
    vocab = "alpha beta gamma delta eps zeta eta theta iota kappa lambda mu".split()
    return " ".join(vocab[(i * 5 + offset) % len(vocab)] + str(i) for i in range(n))


class CorpusCheckers(unittest.TestCase):
    def setUp(self):
        base = words(40)
        near = base.replace("gamma2", "omega2")  # one word changed: J ≈ 0.9
        self.seed = {1: base, 2: words(40, 3)}
        self.ticks = [{10: near, 11: words(35, 7)}, {20: base, 21: words(30, 9)}]

    def test_accepts_right_decisions(self):
        self.assertGreaterEqual(checks.jaccard(checks.shingles(self.seed[1]),
                                               checks.shingles(self.ticks[0][10])), 0.8)
        self.assertEqual(checks.check_text_loop(self.seed, self.ticks, [11, 21], 0.8), [])

    def test_rejects_kept_near_duplicate(self):
        self.assertTrue(checks.check_text_loop(self.seed, self.ticks, [10, 11, 21], 0.8))

    def test_rejects_kept_exact_duplicate(self):
        self.assertTrue(checks.check_text_loop(self.seed, self.ticks, [11, 20, 21], 0.8))

    def test_rejects_drop_without_partner(self):
        self.assertTrue(checks.check_text_loop(self.seed, self.ticks, [21], 0.8))

    def test_rejects_item_kept_twice_or_invented(self):
        self.assertTrue(checks.check_text_loop(self.seed, self.ticks, [11, 11, 21], 0.8))
        self.assertTrue(checks.check_text_loop(self.seed, self.ticks, [11, 21, 99], 0.8))

    def test_embed_loop(self):
        rng = np.random.default_rng(0)
        a, b, c = (rng.normal(size=16).astype(np.float32) for _ in range(3))
        seed = {1: a}
        ticks = [{10: a + 0.001, 11: b}, {20: c}]
        problems, recall = checks.check_embed_loop(seed, ticks, [11, 20], 0.8)
        self.assertEqual((problems, recall), ([], 1.0))
        problems, recall = checks.check_embed_loop(seed, ticks, [10, 11, 20], 0.8)
        self.assertEqual((problems, recall), ([], 0.0))  # a missed duplicate lowers recall
        problems, _ = checks.check_embed_loop(seed, ticks, [10, 11], 0.8)
        self.assertTrue(problems)  # 20 dropped without a partner


class BenchmarkManifest(unittest.TestCase):
    def test_metric_names_match_the_runner(self):
        import importlib.util
        import json
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location("run", os.path.join(here, "run.py"))
        run = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(run)
        with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
