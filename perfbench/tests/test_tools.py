"""Tests of the benchmark's Python side: run them with

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import compare  # noqa: E402
import oracle  # noqa: E402


class OracleDigest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()

    def digest(self, sql):
        return oracle.digest(self.con.execute(sql))

    def test_row_and_column_order_do_not_matter(self):
        a = self.digest("SELECT * FROM (VALUES (1, 'x', 2.5), (2, 'y', NULL)) t(a, b, c)")
        b = self.digest("SELECT c, b, a FROM (VALUES (2, 'y', NULL), (1, 'x', 2.5)) t(a, b, c)")
        self.assertEqual(a, b)

    def test_a_corrupted_answer_does_not_match(self):
        good = self.digest("SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(a, b)")
        for bad in ("SELECT * FROM (VALUES (1, 'x'), (2, 'z')) t(a, b)",
                    "SELECT * FROM (VALUES (1, 'x')) t(a, b)",
                    "SELECT * FROM (VALUES (1, 'x'), (2, 'y'), (2, 'y')) t(a, b)"):
            self.assertNotEqual(good, self.digest(bad), bad)

    def test_check_reports_a_mismatch(self):
        with tempfile.TemporaryDirectory() as d:
            corpus = os.path.join(d, "corpus")
            for t in ("documents", "embeddings"):
                os.makedirs(f"{corpus}/{t}.parquet")
                self.con.execute(f"COPY (SELECT 1 AS doc_id) TO '{corpus}/{t}.parquet/p.parquet'")
            os.makedirs(f"{d}/q")
            self.con.execute(f"COPY (SELECT 2 AS doc_id) TO '{d}/q/p.parquet'")
            with open(f"{d}/oracle.json", "w") as f:
                f.write('{"q": {"corpus": "%s", "answer": "%s/q", "sql": '
                        '"SELECT doc_id FROM documents"}}' % (corpus, d))
            checked, _ = oracle.check(d)
            self.assertTrue(checked["q"].startswith("mismatch"))


class Compare(unittest.TestCase):
    def test_spread_is_the_quartile_distance_over_the_median(self):
        med, q1, q3, spread = compare.summary([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((med, q1, q3), (3.0, 1.5, 4.5))
        self.assertAlmostEqual(spread, 1.0)

    def test_worse_respects_the_direction(self):
        self.assertAlmostEqual(compare.worse({"better": "lower"}, 10.0, 12.0), 0.2)
        self.assertAlmostEqual(compare.worse({"better": "higher"}, 10.0, 12.0), -0.2)


if __name__ == "__main__":
    unittest.main()
