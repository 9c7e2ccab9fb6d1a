"""score_batch output check: a pass whose logged digest disagrees with the
DuckDB recomputation over its own parquet, or whose master misses the
generated truth, counts as failed.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402


def write_pass(root, name, rows):
    import duckdb
    d = os.path.join(root, name, "master.parquet")
    os.makedirs(d)
    con = duckdb.connect()
    con.execute("""CREATE TABLE m (unitid VARCHAR, ein VARCHAR, ein_matched VARCHAR,
                   distress_score DOUBLE, risk_category VARCHAR, is_subsidiary BOOLEAN,
                   ipeds_score DOUBLE, f990_score DOUBLE)""")
    con.executemany("INSERT INTO m VALUES (?, ?, ?, ?, ?, ?, ?, ?)", rows)
    con.execute("COPY m TO '%s' (FORMAT PARQUET)" % os.path.join(d, "part-0.parquet"))
    con.close()
    return os.path.join(root, name)


ROWS = [
    ("101", None, "55", 12.34567, "Healthy", False, 12.34567, None),
    ("102", "77", "99", 45.5, "Elevated", True, 45.5, 30.0),
    (None, "88", None, 81.0, "Severe", False, None, 81.0),
    (None, None, None, None, "Unscored", False, None, None),
]


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        with open(os.path.join(root, "pairs.csv"), "w") as f:
            f.write("unitid,ein\n101,00055\n102,99\n")
        self.inputs = os.path.join(root, "inputs")
        os.makedirs(os.path.join(self.inputs, "truth"))
        os.rename(os.path.join(root, "pairs.csv"),
                  os.path.join(self.inputs, "truth", "name_pairs.csv"))
        self.manifest({"master_rows": 4, "subsidiaries_planted": 1, "name_pairs": 2})
        self.good = write_pass(root, "pass_1", ROWS)
        self.digest = check.digest(os.path.join(self.good, "master.parquet"),
                                   os.path.join(self.inputs, "truth", "name_pairs.csv"))

    def manifest(self, counts):
        with open(os.path.join(self.inputs, "manifest.json"), "w") as f:
            json.dump({"counts": counts}, f)

    def tearDown(self):
        self.tmp.cleanup()

    def log(self, entries):
        with open(os.path.join(self.tmp.name, "reference.json"), "w") as f:
            json.dump(self.digest, f)
        with open(os.path.join(self.tmp.name, "passes.jsonl"), "w") as f:
            for d, dig in entries:
                f.write(json.dumps({"dir": d, "digest": dig}) + "\n")

    def test_digest_definition(self):
        self.assertEqual(self.digest["rows"], 4)
        self.assertEqual(self.digest["subsidiaries"], 1)
        self.assertEqual(self.digest["entities"], 2 + 2)
        self.assertEqual((self.digest["pairs_found"], self.digest["pairs_planted"]), (2, 2))
        self.assertEqual(self.digest["score_sum"], "138.8457")

    def test_correct_passes_count_no_failure(self):
        self.log([(self.good, self.digest), (self.good, self.digest)])
        self.assertEqual(check.failed_passes(self.tmp.name, self.inputs), 0)

    def test_corrupted_answer_counts_as_failed(self):
        # the written master differs from what the client reported
        wrong = [r if r[0] != "102" else ("102", "77", "99", 45.6, "Elevated", True, 45.6, 30.0)
                 for r in ROWS]
        corrupt = write_pass(self.tmp.name, "pass_2", wrong)
        self.log([(self.good, self.digest), (corrupt, self.digest)])
        self.assertEqual(check.failed_passes(self.tmp.name, self.inputs), 1)

    def test_master_wrong_the_same_way_every_pass_counts_as_failed(self):
        # both passes agree with the reference and with DuckDB, but the
        # reference misses the generated truth
        self.log([(self.good, self.digest), (self.good, self.digest)])
        for counts in ({"master_rows": 5, "subsidiaries_planted": 1, "name_pairs": 2},
                       {"master_rows": 4, "subsidiaries_planted": 2, "name_pairs": 2},
                       {"master_rows": 4, "subsidiaries_planted": 1, "name_pairs": 3}):
            self.manifest(counts)
            self.assertEqual(check.failed_passes(self.tmp.name, self.inputs), 2, counts)

    def test_name_pair_recall_below_floor_is_a_miss(self):
        c = {"master_rows": 4, "subsidiaries_planted": 1, "name_pairs": 20}
        reference = dict(self.digest, pairs_planted=20, pairs_found=17)
        self.assertEqual(check.truth_misses(reference, {"counts": c}), [])
        reference["pairs_found"] = 16
        self.assertEqual(len(check.truth_misses(reference, {"counts": c})), 1)

    def test_unreadable_output_counts_as_failed(self):
        self.log([(os.path.join(self.tmp.name, "missing"), self.digest)])
        self.assertEqual(check.failed_passes(self.tmp.name, self.inputs), 1)


if __name__ == "__main__":
    unittest.main()
