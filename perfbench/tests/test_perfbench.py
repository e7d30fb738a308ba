"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The last test builds graft (first time only) and runs the `curation`
workload twice, which takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class SeededInputs(unittest.TestCase):
    def test_same_seed_gives_byte_identical_requests(self):
        a = json.dumps(workloads.api_requests(7), sort_keys=True).encode()
        b = json.dumps(workloads.api_requests(7), sort_keys=True).encode()
        self.assertEqual(a, b)

    def test_other_seed_gives_other_requests(self):
        self.assertNotEqual(workloads.api_requests(7), workloads.api_requests(8))

    def test_every_seed_serves_the_same_template_mix(self):
        def mix(seed):
            return sorted(r["template"] for r in workloads.api_requests(seed, 16))
        self.assertEqual(mix(1), mix(2))
        self.assertEqual(set(mix(1)), {t for t, _ in workloads.TEMPLATE_WEIGHTS})
        self.assertEqual(sum(workloads.template_counts(16).values()), 16)

    def test_query_orders_are_seeded_permutations(self):
        names = [f"q{i:02d}" for i in range(20)]
        a, b = workloads.query_orders(names, 3), workloads.query_orders(names, 3)
        self.assertEqual(a, b)
        self.assertNotEqual(a, workloads.query_orders(names, 4))
        for order in a:
            self.assertEqual(sorted(order), names)


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_too_few_samples_for_any_percentile(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.beyond(100, 90), 10)


class SpanSelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b, "name": f"s{i}", "op": "o"}

    def test_self_time_is_duration_minus_child_cover(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 30), self.span(3, 1, 20, 40),  # overlapping: 10..40
                 self.span(4, 1, 90, 120),                           # clipped to 90..100
                 self.span(5, 2, 12, 18)]                            # grandchild: not the op's
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - 30 - 10)
        self.assertAlmostEqual(st[2], 20 - 6)
        self.assertAlmostEqual(st[5], 6)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(1, 0, 5, 7)]), {1: 2})

    def test_covered_merges_intervals(self):
        self.assertEqual(stats.covered([(0, 1), (0.5, 2), (3, 4), (4, 4)]), 3)


class OracleRules(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.con = duckdb.connect()

    def tearDown(self):
        self.con.close()

    def test_equal_results_compare_equal(self):
        a = oracle.fingerprint(self.con, "SELECT 1 AS b, 2.5 AS a")
        b = oracle.fingerprint(self.con, "SELECT 2.5 AS a, 1 AS b")
        self.assertIsNone(oracle.compare(a, b))

    def test_row_count_schema_and_values_are_checked(self):
        base = oracle.fingerprint(self.con, "SELECT * FROM range(3) t(x)")
        self.assertIn("rows", oracle.compare(
            oracle.fingerprint(self.con, "SELECT * FROM range(4) t(x)"), base))
        self.assertIn("columns", oracle.compare(
            oracle.fingerprint(self.con, "SELECT * FROM range(3) t(y)"), base))
        self.assertIn("hash", oracle.compare(
            oracle.fingerprint(self.con, "SELECT x + 1 AS x FROM range(3) t(x)"), base))

    def test_full_float_precision(self):
        a = oracle.fingerprint(self.con, "SELECT 0.1::DOUBLE + 0.2::DOUBLE AS v")
        b = oracle.fingerprint(self.con, "SELECT 0.3::DOUBLE AS v")
        self.assertIsNotNone(oracle.compare(a, b))

    def test_order_counts_unless_unordered(self):
        asc = "SELECT * FROM range(3) t(x) ORDER BY x"
        desc = "SELECT * FROM range(3) t(x) ORDER BY x DESC"
        self.assertIsNotNone(oracle.compare(oracle.fingerprint(self.con, asc),
                                            oracle.fingerprint(self.con, desc)))
        self.assertIsNone(oracle.compare(oracle.fingerprint(self.con, asc, ordered=False),
                                         oracle.fingerprint(self.con, desc, ordered=False)))

    def test_timestamps_compare_as_epoch_millis(self):
        ts = oracle.fingerprint(self.con, "SELECT TIMESTAMP '2024-01-02 03:04:05' AS t")
        ms = oracle.fingerprint(self.con, "SELECT 1704164645000 AS t")
        self.assertIsNone(oracle.compare(ts, ms))

    def test_scalar_first_cell(self):
        self.assertEqual(oracle.fingerprint(self.con, "SELECT 42 AS count")["first"], 42)


class ColdPassArtifacts(unittest.TestCase):
    def run_bench(self, seed):
        # run.py works from the root of the checkout the benchmark sits in
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", "curation", "--seed", str(seed), "--seconds", "1"],
                           cwd=os.path.dirname(BENCH), capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        info, result = (json.loads(line) for line in r.stdout.strip().splitlines()[-2:])
        self.assertTrue(result["correct"], info["info"]["failures"])
        return info["info"]["artifacts_built"]

    def test_artifacts_built_repeats_across_cold_passes(self):
        a, b = self.run_bench(1), self.run_bench(2)
        self.assertGreater(a["cold"][0], 0)
        self.assertEqual(a["cold"], b["cold"])
        self.assertEqual(set(a["warm"] + b["warm"]), {0})


if __name__ == "__main__":
    unittest.main()
