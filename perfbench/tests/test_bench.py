"""Tests for the benchmark's own Python code.

    python3 -m unittest discover -s perfbench/tests

The JVM-side job classifier is tested by perfbench's sbt build
(``cd perfbench && sbt test``, after one benchmark run has built the
program).
"""
import hashlib
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class PercentileRule(unittest.TestCase):
    def test_known_sample_counts(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertIsNone(metrics.tail_percentile(19))

    def test_highest_percentile_with_ten_samples_beyond(self):
        for n in range(20, 600):
            p = metrics.tail_percentile(n)
            beyond = n - math.ceil(p / 100 * n)
            self.assertGreaterEqual(beyond, 10, n)
            self.assertLess(n - math.ceil((p + 1) / 100 * n), 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        def span(i, parent, layer, start, end):
            return {"id": i, "parent": parent, "layer": layer,
                    "start": start, "end": end}
        spans = [
            span(1, 0, "pass", 0, 100),
            span(2, 1, "op", 10, 90),
            span(3, 2, "ops.build", 10, 30),
            span(4, 2, "ops.action", 30, 90),
            span(5, 4, "exec.job", 40, 60),
            # overlapping stages count once against their job
            span(6, 5, "exec.stage", 45, 55),
            span(7, 5, "exec.stage", 50, 58),
            # a child running past its parent is clipped
            span(8, 3, "exec.job", 25, 35),
        ]
        got = metrics.self_times(spans)
        want = {"pass": 0.020, "op": 0.0, "ops.build": 0.015,
                "ops.action": 0.040, "exec.job": 0.007 + 0.010,
                "exec.stage": 0.018}
        self.assertEqual(set(got), set(want))
        for k, v in want.items():
            self.assertAlmostEqual(got[k], v, places=9, msg=k)


class GeneratorDeterminism(unittest.TestCase):
    def test_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen.gen_tables(f"{d}/a", 5, 0.001)
            gen.gen_tables(f"{d}/b", 5, 0.001)
            gen.gen_tables(f"{d}/c", 6, 0.001)
            self.assertEqual(sorted(os.listdir(f"{d}/a")),
                             sorted(f"{t}.parquet" for t in check.TABLES))
            self.assertEqual(digest(f"{d}/a"), digest(f"{d}/b"))
            self.assertNotEqual(digest(f"{d}/a"), digest(f"{d}/c"))

    def test_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            e1 = gen.gen_corpus(f"{d}/a", 5, 0.2, reducers=4)
            e2 = gen.gen_corpus(f"{d}/b", 5, 0.2, reducers=4)
            gen.gen_corpus(f"{d}/c", 6, 0.2, reducers=4)
            self.assertEqual(e1, e2)
            self.assertEqual(digest(f"{d}/a"), digest(f"{d}/b"))
            self.assertNotEqual(digest(f"{d}/a"), digest(f"{d}/c"))
            self.assertEqual(len(os.listdir(f"{d}/a/small")), 256)
            self.assertEqual(len(os.listdir(f"{d}/a/large")), 4)
            # both inputs hold the generator's words, hot ones in part 0
            for kind in ("large", "small"):
                words = []
                for f in os.listdir(f"{d}/a/{kind}"):
                    with open(f"{d}/a/{kind}/{f}") as fh:
                        words += fh.read().split()
                self.assertEqual(len(words), sum(e1.values()))
            hot = sorted(e1, key=e1.get)[-3:]
            self.assertEqual({check.md5_partition(w, 4) for w in hot}, {0})


if __name__ == "__main__":
    unittest.main()
