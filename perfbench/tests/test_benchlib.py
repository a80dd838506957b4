"""Unit tests of the benchmark's reporting helpers.

Run: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 0.5), 50)
        self.assertEqual(benchlib.percentile(xs, 0.99), 99)
        self.assertEqual(benchlib.percentile(xs, 1.0), 100)
        self.assertEqual(benchlib.percentile([7], 0.9), 7)

    def test_order_does_not_matter(self):
        self.assertEqual(benchlib.percentile([5, 1, 4, 2, 3], 0.6), 3)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 0.5)

    def test_tail_level_keeps_ten_samples_beyond(self):
        self.assertIsNone(benchlib.tail_level(19))
        self.assertEqual(benchlib.tail_level(20), 0.5)
        self.assertEqual(benchlib.tail_level(40), 0.75)
        self.assertEqual(benchlib.tail_level(100), 0.9)
        self.assertEqual(benchlib.tail_level(200), 0.95)
        self.assertEqual(benchlib.tail_level(999), 0.95)
        self.assertEqual(benchlib.tail_level(1000), 0.99)
        self.assertEqual(benchlib.tail_level(10 ** 6), 0.99)
        for n in (20, 57, 100, 1000, 4321):
            level = benchlib.tail_level(n)
            beyond = sum(1 for i in range(1, n + 1) if i > benchlib.percentile(range(1, n + 1), level))
            self.assertGreaterEqual(beyond, 10, n)

    def test_summary(self):
        s = benchlib.summarize([float(i) for i in range(1, 1001)])
        self.assertEqual(s["n"], 1000)
        self.assertEqual(s["p50"], 500.5)
        self.assertEqual(s["tail_level"], 0.99)
        self.assertEqual(s["tail"], 990.0)

    def test_small_sample_tail_is_the_maximum(self):
        s = benchlib.summarize([3.0, 1.0, 2.0])
        self.assertEqual(s["p50"], 2.0)
        self.assertEqual(s["tail_level"], 1.0)
        self.assertEqual(s["tail"], 3.0)
        self.assertEqual(benchlib.level_name(1.0), "max")
        self.assertEqual(benchlib.level_name(0.99), "p99")
        self.assertEqual(benchlib.level_name(0.5), "p50")

    def test_iqr_share(self):
        self.assertAlmostEqual(benchlib.iqr_share([10.0] * 9 + [10.0]), 0.0)
        xs = [8.0, 9.0, 10.0, 11.0, 12.0]
        self.assertAlmostEqual(benchlib.iqr_share(xs), (11.5 - 8.5) / 10.0)


class DigestTest(unittest.TestCase):
    def setUp(self):
        try:
            import pandas  # noqa: F401
        except ImportError:
            self.skipTest("pandas not installed")

    def test_canonical_form(self):
        import pandas as pd
        df = pd.DataFrame({"B": [2, 1], "a": ["y", "x"]})
        cols, rows = benchlib.canon(df)
        self.assertEqual(cols, ["a", "b"])
        self.assertEqual(rows, ["('x', 1)", "('y', 2)"])

    def test_digest_ignores_row_and_column_order(self):
        import pandas as pd
        one = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, 0.25, 1.0]})
        two = pd.DataFrame({"score": [1.0, 0.5, 0.25], "ID": [3, 1, 2]})
        self.assertEqual(benchlib.digest(one), benchlib.digest(two))

    def test_digest_is_md5_of_sorted_reprs(self):
        import pandas as pd
        df = pd.DataFrame({"x": [2.5, None], "s": ["it's", "b"]})
        rows = sorted([repr(("it's", 2.5)), repr(("b", float("nan")))])
        want = hashlib.md5("\n".join(rows).encode()).hexdigest()
        self.assertEqual(benchlib.digest(df), (["s", "x"], 2, want))

    def test_numpy_scalars_become_python_values(self):
        import numpy as np
        import pandas as pd
        df = pd.DataFrame({"n": np.array([7], dtype=np.int64), "f": np.array([0.1], dtype=np.float32)})
        _, rows = benchlib.canon(df)
        self.assertEqual(rows, [repr((float(np.float32(0.1)), 7))])

    def test_values_change_the_digest(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2]})
        b = pd.DataFrame({"x": [1, 3]})
        self.assertNotEqual(benchlib.digest(a)[2], benchlib.digest(b)[2])


class LayerMetricsTest(unittest.TestCase):
    UNITS = {"a_s": "s", "b.jobs": "count", "c_ms": "ms"}

    def test_unexercised_layers_read_zero(self):
        got = benchlib.layer_metrics(self.UNITS, {"a_s": {"value": 1.5, "unit": "s"}}, ["a_s"])
        self.assertEqual(got, {"a_s": {"value": 1.5, "unit": "s"},
                               "b.jobs": {"value": 0.0, "unit": "count"},
                               "c_ms": {"value": 0.0, "unit": "ms"}})

    def test_missing_expected_layer_is_an_error(self):
        with self.assertRaises(KeyError) as e:
            benchlib.layer_metrics(self.UNITS, {"a_s": {"value": 1.5, "unit": "s"}},
                                   ["a_s", "b.jobs", "c_ms"])
        self.assertEqual(e.exception.args[0], "b.jobs, c_ms")

    def test_every_expected_layer_is_in_the_benchmark_spec(self):
        import json
        import run
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = {m["name"] for m in spec["per_layer"]}
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        for w in run.WORKLOADS:
            self.assertEqual([n for n in run.expected_layers(w) if n not in names], [], w)
        covered = set().union(*(run.expected_layers(w) for w in run.WORKLOADS))
        self.assertEqual(sorted(names - covered), [])


if __name__ == "__main__":
    unittest.main()
