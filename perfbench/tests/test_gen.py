"""The backup_spine generator: fixed shape, seed-determined values.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402

ROWS = 20_000


def digest(seed, d):
    path = os.path.join(d, f"{seed}-{len(os.listdir(d))}.parquet")
    gen.write_parquet(gen.generate(seed, ROWS), path)
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_writes_identical_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(digest(5, d), digest(5, d))

    def test_other_seed_writes_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertNotEqual(digest(5, d), digest(6, d))

    def test_shape_is_fixed(self):
        cols = gen.generate(11, ROWS)
        self.assertEqual(len(cols["event_id"]), ROWS)
        span = gen.SPAN_DAYS * gen.DAY_US
        self.assertTrue((cols["ts"] >= gen.SPAN_START_US).all())
        self.assertTrue((cols["ts"] < gen.SPAN_START_US + span).all())
        share = np.bincount(cols["event_type"], minlength=8) / ROWS
        self.assertGreater(share[0], 1 / 3)
        self.assertTrue((np.diff(share) < 0).all(), share)


if __name__ == "__main__":
    unittest.main()
