"""Tests of the benchmark's own logic: percentiles and the geometric
mean, self time with overlapping child spans, output digests, and seed
determinism.

  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
import summarize  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(summarize.percentile(xs, 50), 3.0)
        self.assertAlmostEqual(summarize.percentile(xs, 90), 4.6)
        self.assertEqual(summarize.percentile(xs, 0), 1.0)
        self.assertEqual(summarize.percentile(xs, 100), 5.0)

    def test_single_and_empty(self):
        self.assertEqual(summarize.percentile([7.0], 90), 7.0)
        self.assertEqual(summarize.percentile([], 50), 0.0)

    def test_p90_of_ten_sits_between_the_two_largest(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(summarize.percentile(xs, 90), 9.1)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(summarize.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(summarize.geomean([0.5, 2.0, 8.0]), 2.0)
        self.assertEqual(summarize.geomean([]), 0.0)

    def test_end_to_end_names_match_units(self):
        r = {"ops": [{"kind": "a", "t0": 0, "t1": 1_000_000},
                     {"kind": "b", "t0": 0, "t1": 4_000_000}],
             "session_s": 5.0, "setup_rep_s": [3.0, 1.0, 2.0]}
        m = summarize.end_to_end(r)
        self.assertEqual(list(m), summarize.END_TO_END)
        self.assertEqual(set(m), set(summarize.UNITS))
        self.assertAlmostEqual(m["setup_s"], 7.0)
        self.assertAlmostEqual(m["ops_per_s"], 2 / 5.0)
        self.assertAlmostEqual(m["op_geomean_s"], 2.0)
        by = summarize.latency_by_kind(r)
        self.assertEqual(by["b"], {"n": 1, "p50_s": 4.0, "p90_s": 4.0})


class SelfTimeTest(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(summarize.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(summarize.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(summarize.union_length([]), 0)

    def test_overlapping_children_are_not_counted_twice(self):
        # op [0,100) with two overlapping layer spans [10,50) and [40,70)
        spans = [(0, -1, "op.x", 0, 100), (1, 0, "a", 10, 50), (2, 0, "b", 40, 70)]
        got = {name: s for name, s, _ in summarize.self_times(spans, [])}
        self.assertEqual(got["op.x"], 100 - 60)
        self.assertEqual(got["a"], 40)

    def test_jobs_become_children_of_the_deepest_open_span(self):
        spans = [(0, -1, "op.x", 0, 100), (1, 0, "layer", 10, 60)]
        # two overlapping jobs inside the layer, one in the op's own time
        jobs = [(20, 40), (30, 50), (70, 80)]
        out = summarize.self_times(spans, jobs)
        got = {}
        for name, s, _ in out:
            got[name] = got.get(name, 0) + s
        self.assertEqual(got["layer"], 50 - 30)  # jobs cover [20,50)
        self.assertEqual(got["op.x"], 100 - 50 - 10)
        self.assertEqual(got["spark.jobs"], 30 + 10)
        # self times partition the op's wall time exactly
        self.assertEqual(sum(s for _, s, _ in out), 100)

    def test_job_running_past_its_span_is_clipped(self):
        spans = [(0, -1, "op.x", 0, 100), (1, 0, "layer", 10, 30)]
        out = summarize.self_times(spans, [(20, 45)])
        self.assertEqual(sum(s for _, s, _ in out), 100)


class DigestTest(unittest.TestCase):
    def test_line_digest_ignores_order(self):
        a = oracle.line_digest(["1,2,x", "3,4,y", "5,6,z"])
        b = oracle.line_digest(["5,6,z", "1,2,x", "3,4,y"])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.line_digest(["1,2,x", "3,4,y"]))


class SeedDeterminismTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            digests = []
            for i, seed in enumerate((5, 5, 6)):
                out = os.path.join(tmp, f"in{i}")
                gen.generate("battery_multiaction", seed, out)
                digests.append(gen.digest(out))
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0], digests[2])

    def test_cycle_keeps_exact_mix(self):
        import numpy as np
        mix = {"a": 3, "b": 2, "c": 1}
        c = gen._cycle(np.random.default_rng(1), mix)
        self.assertEqual({k: c.count(k) for k in mix}, mix)


if __name__ == "__main__":
    unittest.main()
