"""Benchmark input generator: seeded, byte-reproducible, with the planted
properties the pipeline branches on.

    python3 -m unittest discover -s perfbench/tests
"""

import csv
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def files_under(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    return sorted(out)


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a = os.path.join(cls.tmp.name, "a")
        cls.b = os.path.join(cls.tmp.name, "b")
        cls.c = os.path.join(cls.tmp.name, "c")
        cls.counts = gen.generate(7, 0.05, cls.a)
        gen.generate(7, 0.05, cls.b)
        gen.generate(8, 0.05, cls.c)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_files(self):
        names = files_under(self.a)
        self.assertEqual(names, files_under(self.b))
        match, mismatch, errors = filecmp.cmpfiles(self.a, self.b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual(len(match), len(names))

    def test_different_seed_gives_different_files(self):
        names = files_under(self.a)
        _, mismatch, _ = filecmp.cmpfiles(self.a, self.c, names, shallow=False)
        self.assertIn("master_seed.csv", mismatch)
        self.assertIn(os.path.join("ipeds", "IPEDS2024.csv"), mismatch)

    def test_layout_three_filing_types_by_five_years(self):
        names = files_under(self.a)
        for kind in ("std", "ez", "pf"):
            self.assertEqual(
                len([n for n in names if n.startswith(os.path.join("990", kind))]), 5)
        self.assertEqual(len([n for n in names if n.startswith("ipeds")]), 5)

    def test_filing_type_split(self):
        rows = self.counts["f990_rows"]
        total = sum(rows.values())
        self.assertGreater(rows["STD"] / total, 0.95)
        self.assertGreater(rows["EZ"], 0)
        self.assertGreater(rows["PF"], 0)

    def test_ipeds_headers_are_year_prefixed_with_traps(self):
        with open(os.path.join(self.a, "ipeds", "IPEDS2022.csv"), encoding="latin-1") as f:
            header = next(csv.reader(f))
        self.assertIn("DRVEF2022.Total  enrollment", header)
        self.assertIn("F2122_F2.Total assets", header)
        # the trap columns come first and must be excluded by the resolver
        self.assertLess(header.index("DRVEF2022.Full-time Total  enrollment"),
                        header.index("DRVEF2022.Total  enrollment"))

    def test_planted_pairs_and_subsidiaries(self):
        self.assertGreater(self.counts["name_pairs"], 0)
        self.assertGreater(self.counts["subsidiaries_planted"], 0)


if __name__ == "__main__":
    unittest.main()
