"""The output check: digests, and that a wrong result is caught."""
import os
import shutil
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import duckdb  # noqa: E402

ORACLE = "SELECT lang, count(*) AS n FROM documents GROUP BY lang"


class DigestTest(unittest.TestCase):
    def test_row_order_does_not_matter(self):
        rows = [(1, "a", 0.5), (2, "b", 1.5), (3, "c", 2.5)]
        self.assertEqual(checks.digest(rows, ["id", "s", "x"]),
                         checks.digest(rows[::-1], ["id", "s", "x"]))

    def test_column_order_does_not_matter(self):
        self.assertEqual(checks.digest([(1, "a")], ["id", "s"]),
                         checks.digest([("a", 1)], ["s", "id"]))

    def test_floats_normalised(self):
        self.assertEqual(checks.digest([(0.1 + 0.2,), (-0.0,)], ["x"]),
                         checks.digest([(0.3,), (0.0,)], ["x"]))

    def test_values_matter(self):
        self.assertNotEqual(checks.digest([(1,), (2,)], ["x"]),
                            checks.digest([(1,), (3,)], ["x"]))
        self.assertNotEqual(checks.digest([(1,)], ["x"]),
                            checks.digest([(1,), (1,)], ["x"]))


class CheckOutputsTest(unittest.TestCase):
    """A tiny documents table, one oracle-covered op and one without an
    oracle; then a wrong result is injected into each."""

    def setUp(self):
        self.dir = os.path.join(BENCH, ".work", f"test-checks-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.data = os.path.join(self.dir, "data")
        os.makedirs(self.data)
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            "(0, 'the data', 'en'), (1, 'de query', 'nl'), (2, 'a spark', 'en')) "
            "t(doc_id, text, lang)")
        self.con.execute(f"COPY documents TO '{self.data}/documents.parquet' (FORMAT parquet)")
        for p in ("first", "last"):
            self.write(p, "counts", ORACLE)
            self.write(p, "ids", "SELECT doc_id FROM documents")

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir, ignore_errors=True)

    def write(self, pass_name, op, sql):
        d = os.path.join(self.dir, pass_name, op)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT parquet)")

    def check(self, expected=None):
        return checks.check_outputs(["counts", "ids"], {"counts": ORACLE},
                                    os.path.join(self.dir, "first"),
                                    os.path.join(self.dir, "last"), self.data, expected)

    def test_correct_outputs_pass(self):
        report = self.check()
        self.assertEqual(report["counts"]["oracle"], "match")
        self.assertEqual(report["ids"]["oracle"], "none")
        self.assertEqual([p for r in report.values() for p in r["problems"]], [])

    def test_wrong_result_against_oracle_is_caught(self):
        self.write("first", "counts",
                   "SELECT lang, count(*) + 1 AS n FROM documents GROUP BY lang")
        report = self.check()
        self.assertEqual(report["counts"]["oracle"], "mismatch")
        self.assertTrue(report["counts"]["problems"])
        self.assertFalse(report["ids"]["problems"])

    def test_result_changing_between_passes_is_caught(self):
        self.write("last", "ids", "SELECT doc_id FROM documents WHERE doc_id > 0")
        report = self.check()
        self.assertIn("differs between passes", report["ids"]["problems"][0])

    def test_missing_output_is_caught(self):
        shutil.rmtree(os.path.join(self.dir, "first", "ids"))
        self.assertTrue(self.check()["ids"]["problems"])

    def test_expected_digests(self):
        good = self.check()
        expected = {op: r["digest"] for op, r in good.items()}
        self.assertFalse(any(r["problems"] for r in self.check(expected).values()))
        expected["ids"] = dict(expected["ids"], sha256="0" * 64)
        self.assertIn("expected digest", self.check(expected)["ids"]["problems"][0])


if __name__ == "__main__":
    unittest.main()
