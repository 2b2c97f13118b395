"""Tests of the benchmark itself: seeded generators and metric names.

Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
SMALL_CORPUS = dict(gen.CORPUS, docs=120, poisoned=3)


def summary(table):
    """Row count, null counts and byte totals per column."""
    out = {"rows": table.num_rows}
    for name in table.column_names:
        c = table.column(name)
        out[name + ".nulls"] = c.null_count
        if name in ("key", "value", "text"):
            out[name + ".bytes"] = pc.sum(pc.binary_length(c)).as_py()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.BUILD, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=run.BUILD)

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def topic(self, workload, seed, name):
        gen.topic_log(workload, seed, self.path(name))
        return pq.read_table(self.path(name))

    def docs(self, seed, name):
        gen.documents(seed, self.path(name), SMALL_CORPUS)
        return pq.read_table(self.path(name))

    def test_topic_logs_are_deterministic_per_seed(self):
        for w in gen.TOPIC:
            a = self.topic(w, 5, "a.parquet")
            b = self.topic(w, 5, "b.parquet")
            c = self.topic(w, 6, "c.parquet")
            self.assertTrue(a.equals(b), w)
            self.assertEqual(summary(a), summary(b), w)
            self.assertFalse(a.equals(c), w)
            self.assertNotEqual(summary(a), summary(c), w)

    def test_topic_log_has_the_kafka_quirks(self):
        t = self.topic("topic_scan", 5, "a.parquet")
        n = t.num_rows
        self.assertEqual(n, gen.TOPIC["topic_scan"]["records"])
        self.assertAlmostEqual(t.column("key").null_count / n,
                               gen.NULL_KEY_SHARE, delta=0.01)
        self.assertAlmostEqual(t.column("value").null_count / n,
                               gen.TOMBSTONE_SHARE, delta=0.01)
        ts = pc.cast(t.column("timestamp"), "int64")
        self.assertGreater(pc.sum(pc.less(ts, 0)).as_py(), 0)

    def test_documents_are_deterministic_per_seed(self):
        a, b, c = (self.docs(5, "a.parquet"), self.docs(5, "b.parquet"),
                   self.docs(6, "c.parquet"))
        self.assertTrue(a.equals(b))
        self.assertEqual(summary(a), summary(b))
        self.assertFalse(a.equals(c))
        self.assertNotEqual(summary(a), summary(c))

    def test_documents_carry_the_seeded_long_runs(self):
        t = self.docs(5, "a.parquet")
        runs = [x for doc in t.column("text").to_pylist()
                for x in doc.split(" ") if len(x) >= SMALL_CORPUS["poison_chars"]]
        self.assertEqual(len(runs), SMALL_CORPUS["poisoned"])


class MetricNameTest(unittest.TestCase):
    def test_names_and_units_match_the_benchmark_file(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for section, expected in (("end_to_end", run.END_TO_END),
                                  ("per_layer", run.PER_LAYER)):
            declared = {m["name"]: m["unit"] for m in bench[section]}
            self.assertEqual(declared, expected, section)
        names = ([w["name"] for w in bench["workloads"]]
                 + list(run.END_TO_END) + list(run.PER_LAYER))
        for n in names:
            self.assertRegex(n, NAME)
            self.assertTrue(NAME.fullmatch(n), n)
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         list(run.WORKLOADS))


class TailTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond_it_and_is_never_below_the_median(self):
        for n in (1, 2, 11, 20, 21, 22, 40):
            xs = list(range(n))
            value, pct = run.tail(xs)
            self.assertGreaterEqual(value, (n - 1) / 2)
            if n >= 21:
                self.assertEqual(sum(x > value for x in xs), 10)
                self.assertGreaterEqual(pct, 50.0)


if __name__ == "__main__":
    unittest.main()
