#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine):

    python3 perfbench/selftest.py

- the same seed gives a byte-identical request list and archive digest,
  another seed different ones;
- the percentile helper follows the ten-samples-beyond rule;
- every metric name is well formed, and every name BENCHMARK.json
  lists is one run.py emits.
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class Determinism(unittest.TestCase):
    def lists(self, seed):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            out = []
            for name, reqs in (("v", gen.viewer_requests(seed, 10)),
                               ("e", gen.export_requests(seed)),
                               ("w", gen.warmup_requests(seed))):
                p = os.path.join(d, name)
                gen.write_requests(p, reqs)
                with open(p, "rb") as f:
                    out.append(f.read())
            out.append(",".join(gen.pipeline_order(seed)).encode())
            return out

    def test_request_lists(self):
        a, b, c = self.lists(3), self.lists(3), self.lists(4)
        self.assertEqual(a, b)
        for x, y in zip(a[:2], c[:2]):
            self.assertNotEqual(x, y)

    def test_archive_digest(self):
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            digests = []
            for i, seed in enumerate((5, 5, 6)):
                root = os.path.join(d, str(i))
                gen.write_archive(root, seed)
                digests.append(gen.archive_digest(root))
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0], digests[2])


class Percentiles(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.percentile(xs, 0.95), 190)  # 10 samples above
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(xs[:199], 0.95)               # only 9 above
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(19)), 0.5)

    def test_misses_rank_last(self):
        xs = [1.0] * 15 + [float("inf")] * 15
        self.assertEqual(stats.percentile(xs, 0.5), 1.0)
        self.assertEqual(stats.percentile(xs + [float("inf")] * 2, 0.5), float("inf"))


class MetricNames(unittest.TestCase):
    def test_names(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        ok = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        emitted_e2e, emitted_layer = set(run.E2E), {n for n, _ in run.PER_LAYER}
        for n in emitted_e2e | emitted_layer:
            self.assertRegex(n, ok)
        self.assertEqual({m["name"] for m in bench["end_to_end"]}, emitted_e2e)
        self.assertEqual({m["name"] for m in bench["per_layer"]}, emitted_layer)
        for m in bench["end_to_end"]:
            self.assertEqual(m["unit"], run.E2E[m["name"]])
        units = dict(run.PER_LAYER)
        for m in bench["per_layer"]:
            self.assertEqual(m["unit"], units[m["name"]])


if __name__ == "__main__":
    unittest.main()
