"""Tests of the benchmark's own generator and result helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


class GenTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="test-", dir=os.path.join(HERE, "out"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def ingest(self, workload, seed, **kw):
        return gen.ingest(workload, seed, os.path.join(self.dir, f"{workload}-{seed}"), **kw)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.ingest("tail_resume", 7, deltas=2)["sha256"],
                         gen.ingest("tail_resume", 7, os.path.join(self.dir, "again"), deltas=2)["sha256"])
        a = gen.query_tables(7, os.path.join(self.dir, "q1"))
        b = gen.query_tables(7, os.path.join(self.dir, "q2"))
        self.assertEqual(a["sha256"], b["sha256"])

    def test_different_seeds_differ(self):
        self.assertNotEqual(self.ingest("tail_resume", 1)["sha256"],
                            self.ingest("tail_resume", 2)["sha256"])
        self.assertNotEqual(gen.query_tables(1, os.path.join(self.dir, "q1"))["sha256"],
                            gen.query_tables(2, os.path.join(self.dir, "q2"))["sha256"])

    def test_skewed_short_has_a_hot_source(self):
        p = self.ingest("skewed_short", 3)
        self.assertGreaterEqual(p["top_source_share"], 0.5)
        self.assertLess(p["mean_words"], 12)
        self.assertLess(self.ingest("bulk_ingest", 3)["top_source_share"], 0.05)

    def test_tail_properties_cover_the_deltas(self):
        p = self.ingest("tail_resume", 4, deltas=3)
        self.assertEqual(p["rows"], gen.TAIL["base"] + 3 * gen.TAIL["delta"])
        self.assertEqual(p["deltas"], 3)


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(run.tail_percentile(list(range(20))), (None, None))
        value, pct = run.tail_percentile(list(range(100)))
        self.assertEqual((value, pct), (89, 90.0))


if __name__ == "__main__":
    unittest.main()
