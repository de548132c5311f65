"""Self-tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout; the attribution test builds the
harness (cached in `.bench_build/`) and starts one small Spark session.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        pct, value, n = metrics.tail(range(1, 101))
        self.assertEqual((pct, value, n), (90.0, 90, 100))

    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail(range(10)))
        pct, value, n = metrics.tail(range(11))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 0, 11, 10]
        self.assertEqual(metrics.tail(xs)[1], 1)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        # (1,3) and (2,4) overlap -> 3 covered; (8,12) clips to 2;
        # (-5,-1) lies outside the span
        kids = [(1, 3), (2, 4), (8, 12), (-5, -1)]
        self.assertEqual(metrics.self_time(0, 10, kids), 5)

    def test_no_children_and_full_cover(self):
        self.assertEqual(metrics.self_time(2, 7, []), 5)
        self.assertEqual(metrics.self_time(2, 7, [(0, 3), (3, 9)]), 0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            ma = gen.generate(7, a)
            gen.generate(7, b)
            gen.generate(8, c)
            names = sorted(os.listdir(a))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, moved, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            for t in gen.FACTS:
                self.assertIn(f"{t}.parquet", moved)
            self.assertEqual(ma["seed"], 7)
            for t in gen.DIMS + gen.FACTS:
                self.assertGreater(ma["tables"][t]["rows"], 0)
                self.assertEqual(ma["tables"][t]["bytes"], os.path.getsize(
                    os.path.join(a, f"{t}.parquet")))


class CompareTest(unittest.TestCase):
    def test_labels(self):
        parent = [10.0 + 0.1 * i for i in range(10)]
        faster = [x - 2 for x in parent]
        self.assertEqual(compare.label(parent, faster, 0.1)[0], "improved")
        slower = [x * 1.5 for x in parent]
        self.assertEqual(compare.label(parent, slower, 0.1)[0], "worse")
        self.assertEqual(compare.label(parent, parent, 0.1)[0], "unchanged")
        self.assertEqual(compare.label(parent[:5], faster[:5], 0.1)[0],
                         "unresolved")


class AttributionTest(unittest.TestCase):
    def test_stream_thread_jobs_land_on_their_op(self):
        root = os.path.dirname(HERE)
        out = os.path.join(root, ".bench_build")
        cp = run.build(root, out)
        with tempfile.TemporaryDirectory(dir=out) as work:
            res = os.path.join(work, "selftest.json")
            cmd = run.java_cmd(cp, work, "1g",
                               ["--selftest", work, "--out", res])
            os.makedirs(os.path.join(work, "tmp"))
            subprocess.run(cmd, check=True, capture_output=True, timeout=300)
            got = json.load(open(res))
        # two one-file micro-batches, each running a job on the stream's
        # own thread, plus the plain op's job
        self.assertGreaterEqual(got["stream_op_jobs"], 2)
        self.assertGreaterEqual(got["plain_op_jobs"], 1)


if __name__ == "__main__":
    unittest.main()
