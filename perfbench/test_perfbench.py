"""Tests of the benchmark's generator and metric maths.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import shutil
import tempfile
import unittest

import gen
import metrics
import run
import workloads


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def prepare(self, name, seed, sub):
        work = os.path.join(self.tmp, sub)
        _, reports = workloads.prepare(name, seed, 10, 0, work)
        return tree_digest(os.path.join(work, "in")), reports

    def test_same_seed_same_bytes(self):
        for name in workloads.WORKLOADS:
            a, _ = self.prepare(name, 7, name + "-a")
            b, _ = self.prepare(name, 7, name + "-b")
            c, _ = self.prepare(name, 8, name + "-c")
            self.assertEqual(a, b, name)
            self.assertNotEqual(a, c, name)

    def test_target_shares_hold(self):
        for seed in (1, 2, 3):
            for name in workloads.WORKLOADS:
                _, reports = self.prepare(name, seed, f"{name}-{seed}")
                for r in reports:
                    self.assertTrue(r["ok"], (name, seed, r))

    def test_dictionary_shape_and_names(self):
        entries = gen.location_dictionary(5)
        self.assertEqual(len(entries), gen.N_PROVINCES)
        self.assertTrue(all(len(cs) == gen.CITIES_PER_PROVINCE for _, cs in entries))
        names = [p.lower() for p, _ in entries] + [c.lower() for _, cs in entries for c in cs]
        self.assertEqual(len(names), len(set(names)))
        vocab = set(gen.filler_vocabulary(5, 3000))
        self.assertFalse(vocab & set(names))

    def test_planted_pairs_are_near_duplicates(self):
        rows, planted = gen.corpus(3, 500)
        text = {r["doc_id"]: r["text"] for r in rows}
        for kind, a, b in planted:
            self.assertLess(a, b)
            if kind == "exact":
                self.assertEqual(text[a], text[b])
        self.assertEqual(gen.jaccard("a b c d", "a b c d"), 1.0)
        self.assertEqual(gen.jaccard("a b c d", "a b c e"), 1 / 3)


class MetricsTest(unittest.TestCase):

    def test_tail_rule(self):
        self.assertIsNone(metrics.tail([1.0] * 37))
        p, _, beyond = metrics.tail([float(i) for i in range(38)])
        self.assertEqual((p, beyond), (75.0, 10))
        p, _, beyond = metrics.tail([float(i) for i in range(1000)])
        self.assertEqual((p, beyond), (99.0, 10))
        p, _, beyond = metrics.tail([float(i) for i in range(10_000)])
        self.assertEqual((p, beyond), (99.9, 10))
        p, _, beyond = metrics.tail([float(i) for i in range(150)])
        self.assertEqual((p, beyond), (90.0, 15))

    def test_percentile(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 50), 2.0)
        self.assertEqual(metrics.percentile([1.0, 2.0], 50), 1.5)
        self.assertEqual(metrics.percentile([4.0], 99), 4.0)

    def span(self, i, name, parent, start, end, **counters):
        return {"id": i, "name": name, "parent": parent, "op": 0, "start_s": start,
                "end_s": end, "task_max_ms": 0.0, "task_p50_ms": 0.0, "counters": counters}

    def test_self_time_subtracts_only_nested_children(self):
        spans = [
            self.span(1, "sources.read", 0, 0.0, 1.0),
            self.span(2, "functions.transform", 0, 1.0, 5.0),
            self.span(0, "pipeline.ingest", -1, 0.0, 6.0),
            # probes run after their logical parent has closed
            self.span(3, "functions.locate", 2, 6.0, 9.0),
        ]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[0], 1.0)   # 6 - (1 + 4)
        # the probe ran outside its parent's wall, so it is not subtracted
        self.assertAlmostEqual(s[2], 4.0)
        self.assertAlmostEqual(s[3], 3.0)
        self.assertTrue(all(v >= 0 for v in s.values()))
        table = metrics.layer_table(spans)
        self.assertEqual(metrics.top_by_self(table), "functions.transform")

    def test_layer_table_sums_counters(self):
        spans = [self.span(0, "lake.read", -1, 0.0, 1.0, input_bytes=10.0, tasks=2.0),
                 self.span(1, "lake.read", -1, 2.0, 4.0, input_bytes=5.0, tasks=2.0)]
        row = metrics.layer_table(spans)["lake.read"]
        self.assertAlmostEqual(row["wall_s"], 3.0)
        self.assertEqual(row["input_bytes"], 15.0)
        self.assertEqual(row["spans"], 2)


class ContractTest(unittest.TestCase):
    """BENCHMARK.json and run.py name the same metrics."""

    def test_benchmark_json_matches_run(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, set(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         run.per_layer_spec())
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(workloads.WORKLOADS))
        self.assertLessEqual(len(spec["per_layer"]), 128)


if __name__ == "__main__":
    unittest.main()
