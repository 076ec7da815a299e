"""Self-tests of the benchmark: the tail-percentile rule, the self-time
arithmetic, and determinism of the flight generator.

    python3 -m unittest perfbench/test_perfbench.py

The flight-generator test compiles the benchmark (perfbench/build.py)
and runs perfbench.SelfTest, which needs no Spark session.
"""

import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(132), 90.0)  # 13.2 beyond p90, 6.6 beyond p95
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(40), 75.0)

    def test_boundaries(self):
        self.assertEqual(stats.tail_percentile(100), 90.0)  # exactly ten beyond
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))
        self.assertIsNone(stats.tail_percentile(0))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile(range(11), 90), 9.0)
        self.assertEqual(stats.percentile([7], 90), 7)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_and_clipped(self):
        spans = [span(0, -1, 0, 100),
                 span(1, 0, 10, 30), span(2, 0, 20, 50),  # overlap 20..30 counts once
                 span(3, 0, 90, 120),                      # clipped to the parent's end
                 span(4, 1, 12, 18)]
        own = stats.self_times(spans)
        self.assertEqual(own[0], 100 - 40 - 10)
        self.assertEqual(own[1], 20 - 6)
        self.assertEqual(own[2], 30)
        self.assertEqual(own[3], 30)
        self.assertEqual(own[4], 6)

    def test_self_times_sum_to_root_wall_for_nested_spans(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 100, 400), span(2, 1, 150, 250),
                 span(3, 0, 500, 900), span(4, 3, 500, 900)]
        self.assertEqual(sum(stats.self_times(spans).values()), 1000)

    def test_reconcile(self):
        good = [span(0, -1, 0, 100), span(1, 0, 0, 95)]
        bad = [span(2, -1, 200, 300), span(3, 2, 200, 250)]
        share, unreconciled = stats.reconcile(good + bad)
        self.assertAlmostEqual(share, (5 + 50) / 200)
        self.assertEqual(unreconciled, 1)


class FlightGenerator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        import build
        classpath = build.build()
        out = subprocess.run(["java", "-cp", classpath, "perfbench.SelfTest", "2", "60",
                              "5", "5", "6"], check=True, stdout=subprocess.PIPE, text=True)
        cls.rows = [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]

    def test_same_seed_identical_flights(self):
        self.assertEqual(self.rows[0], self.rows[1])

    def test_other_seed_other_values_same_counts(self):
        a, c = self.rows[0], self.rows[2]
        self.assertNotEqual(a["hash"], c["hash"])
        for key in ("raw", "silver", "gold", "top_flights"):
            self.assertEqual(a[key], c[key], key)

    def test_counts_match_the_prediction(self):
        for row in self.rows:
            for key, value in row["expected"].items():
                self.assertEqual(row[key], value, key)
            self.assertEqual(row["silver"], row["raw"] * 9 // 10)


if __name__ == "__main__":
    unittest.main()
