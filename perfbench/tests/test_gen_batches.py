"""The ingest generator is a pure function of its seed.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_batches  # noqa: E402


def digest(d: str) -> dict:
    """{relative path: sha1} of every file under d."""
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha1(fh.read()).hexdigest()
    return out


class GenBatchesTest(unittest.TestCase):
    def generate(self, seed: int):
        with tempfile.TemporaryDirectory() as d:
            truth = gen_batches.generate(d, seed, batches=4)
            return digest(d), truth

    def test_same_seed_same_bytes_and_counts(self):
        files_a, truth_a = self.generate(7)
        files_b, truth_b = self.generate(7)
        self.assertEqual(files_a, files_b)
        self.assertEqual(truth_a, truth_b)

    def test_other_seed_other_files(self):
        files_a, _ = self.generate(7)
        files_b, _ = self.generate(8)
        self.assertNotEqual(files_a, files_b)

    def test_truth_follows_the_rules(self):
        _, truth = self.generate(3)
        prev = None
        for b in truth["batches"]:
            self.assertTrue(300 <= b["records"] <= 2000)
            self.assertGreater(b["rescrape"], 0)
            self.assertEqual(b["processed_rows"], b["fact_rows"])
            self.assertEqual(b["processed_rows"], b["vehicle_rows"])
            if prev is not None:
                self.assertGreater(b["processed_rows"], prev["processed_rows"])
                # dates slide: each batch rewrites partitions of the one before
                self.assertTrue(set(prev["dates"]) & set(b["dates"]))
            prev = b
        # corrections reach the processed layer (keep-newest) but never an
        # existing fact row (U1), so the two view sums part ways
        last = truth["batches"][-1]
        self.assertNotEqual(last["processed_views"], last["fact_views"])


if __name__ == "__main__":
    unittest.main()
