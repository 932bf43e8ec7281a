"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402

SPEC = dict(rows=60, dim=8, clusters=3, spread=2.0, labels=4, slab=5, ndjson=True)


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorTest(unittest.TestCase):
    def generate(self, seed):
        out = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(out))
        gen.generate("ann_pipeline", SPEC, seed, out)
        return out

    def test_same_seed_gives_identical_inputs(self):
        a, b = self.generate(7), self.generate(7)
        self.assertEqual(files(a), files(b))
        for f in files(a):
            if f != "manifest.json":  # it names its own directory
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)

    def test_other_seed_gives_other_inputs(self):
        a, b = self.generate(7), self.generate(8)
        self.assertFalse(filecmp.cmp(os.path.join(a, "corpus.ndjson"),
                                     os.path.join(b, "corpus.ndjson"), shallow=False))

    def test_planted_lines_are_counted(self):
        out = self.generate(7)
        with open(os.path.join(out, "corpus.ndjson")) as f:
            lines = f.read().splitlines()
        good = [line for line in lines if '"text-embedding-ada-002": [' in line]
        with open(os.path.join(out, "manifest.json")) as f:
            manifest = json.load(f)
        self.assertEqual(len(good), SPEC["rows"])
        self.assertEqual(len(lines) - len(good), manifest["ndjson_planted"])
        self.assertEqual(manifest["ndjson_planted"], 60 // 10 + 60 // 25)


class PercentileTest(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(range(199), 0.95))
        self.assertEqual(metrics.percentile(range(200), 0.95), 189)
        self.assertIsNone(metrics.percentile(range(19), 0.5))
        self.assertEqual(metrics.percentile(range(20), 0.5), 9)
        self.assertIsNone(metrics.percentile([], 0.5))


class SplitRunTest(unittest.TestCase):
    def test_warmup_round_is_left_out(self):
        def span(i, parent, name, start, end, kind="group", values=None):
            return dict(id=i, parent=parent, name=name, kind=kind, work=10,
                        start_s=start, end_s=end, values=values or {})
        spans = [span(0, -1, "setup", 0, 1),
                 span(1, -1, "warmup", 1, 5, values={"recall_hnsw": 0.1}),
                 span(2, 1, "search", 1, 5),
                 span(3, 2, "knn.hnsw.search", 1, 5, kind="step"),
                 span(4, -1, "round", 5, 9, values={"recall_hnsw": 0.9}),
                 span(5, 4, "search", 5, 6),
                 span(6, 5, "knn.hnsw.search", 5, 6, kind="step"),
                 # outside a search batch: in round_s, not in search_qps
                 span(7, 4, "knn.hnsw.search", 6, 9, kind="step")]
        m, _ = metrics.end_to_end({"spans": spans})
        self.assertEqual(m["hnsw_recall_at_10"], 0.9)
        self.assertEqual(m["search_qps"], 10.0)
        self.assertEqual(m["round_s"], 4)
        self.assertEqual(m["setup_s"], 1)

    def test_search_qps_is_the_median_over_batches(self):
        spans = [dict(id=0, parent=-1, name="round", kind="group", work=0,
                      start_s=0, end_s=10, values={})]
        for b, (hnsw_s, ivf_s) in enumerate([(1, 1), (1, 3), (0.5, 0.5)]):
            g, t = 1 + 3 * b, 3 * b
            spans += [dict(id=g, parent=0, name="search", kind="group", work=0,
                           start_s=t, end_s=t + hnsw_s + ivf_s, values={}),
                      dict(id=g + 1, parent=g, name="knn.hnsw.search", kind="step", work=10,
                           start_s=t, end_s=t + hnsw_s, values={}),
                      dict(id=g + 2, parent=g, name="knn.ivf.search", kind="step", work=10,
                           start_s=t + hnsw_s, end_s=t + hnsw_s + ivf_s, values={})]
        m, _ = metrics.end_to_end({"spans": spans})
        self.assertEqual(m["search_qps"], 10.0)  # batches: 10, 5, 20 per second


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_are_well_formed_and_unique(self):
        names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
                 for m in self.spec[key]]
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_lists_what_the_run_prints(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.spec["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.spec["per_layer"]],
                         metrics.per_layer_specs())
        self.assertLessEqual(len(self.spec["per_layer"]), 128)


if __name__ == "__main__":
    unittest.main()
