"""Benchmark-local tests: generator determinism, the percentile helper,
span self time, and metric names against BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def tree_digest(path):
    h = hashlib.sha256()
    for r, ds, fs in sorted(os.walk(path)):
        ds.sort()
        for f in sorted(fs):
            p = os.path.join(r, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def gen(self, workload, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(__import__("shutil").rmtree, d)
        sizes = gen.generate(workload, seed, os.path.join(d, "sf"))
        return sizes, tree_digest(os.path.join(d, "sf"))

    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, da = self.gen(w, 7)
                b, db = self.gen(w, 7)
                self.assertEqual(a, b)
                self.assertEqual(da, db)

    def test_other_seed_other_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(self.gen(w, 7)[1], self.gen(w, 8)[1])

    def test_log_manifest_accounts_for_every_line(self):
        d = tempfile.mkdtemp()
        self.addCleanup(__import__("shutil").rmtree, d)
        gen.generate("daemon", 3, d)
        with open(os.path.join(d, "logs.json")) as fh:
            m = json.load(fh)
        n = 0
        for f in os.listdir(os.path.join(d, "logs")):
            with open(os.path.join(d, "logs", f)) as fh:
                n += sum(1 for _ in fh)
        self.assertEqual(n, m["lines"])
        self.assertEqual(m["lines"], m["expect_emitted"] + m["expect_late"] +
                         m["expect_discarded"] + m["sentinels"])
        self.assertGreater(m["expect_late"], 0)
        self.assertGreater(m["expect_discarded"], 0)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 1.0), 100)
        self.assertEqual(stats.percentile([5], 0.9), 5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(100))), (0.9, 89))
        self.assertEqual(stats.tail(list(range(1000)))[0], 0.99)
        self.assertEqual(stats.tail(list(range(40)))[0], 0.75)
        self.assertEqual(stats.tail(list(range(20)))[0], 0.5)
        self.assertIsNone(stats.tail(list(range(19))))
        # 99 samples: p90 would leave only 9 beyond
        self.assertEqual(stats.tail(list(range(99)))[0], 0.75)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "name": f"s{i}",
                "start_ns": a, "end_ns": b}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60),     # overlaps its sibling
                 self.span(4, 2, 15, 20),     # grandchild: not the root's
                 self.span(5, 1, 90, 130)]    # runs past its parent
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)
        self.assertEqual(st[5], 40)

    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(1, 0, 5, 9)]), {1: 4})


class MetricNameTest(unittest.TestCase):
    def test_validity(self):
        for ok in ("setup_s", "spark.plan.analysis_ms", "a-b.c_1", "9x"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_lead", ".lead", "has space", "slash/x", "x" * 65,
                    "unié"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_benchmark_json_matches_harness(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        e2e = [(m["name"], m["unit"], m["better"], m["bound"])
               for m in b["end_to_end"]]
        self.assertEqual(e2e, [tuple(r) for r in run.END_TO_END])
        layers = [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]]
        self.assertEqual(layers, [tuple(r[:3]) for r in run.PER_LAYER])
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(gen.WORKLOADS))
        names = ([m["name"] for m in b["end_to_end"]] +
                 [m["name"] for m in b["per_layer"]] +
                 [w["name"] for w in b["workloads"]])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertTrue(stats.valid_unit(m["unit"]), m["unit"])
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in b["end_to_end"]))

    def test_layer_targets_are_metrics(self):
        names = {r[0] for r in run.END_TO_END} | {r[0] for r in run.PER_LAYER}
        for name, _, _, target, workload in run.PER_LAYER:
            if target is not None:
                self.assertIn(target, names, name)
                self.assertNotEqual(target, name)
            self.assertIn(workload, gen.WORKLOADS + ("all",), name)


if __name__ == "__main__":
    unittest.main()
