"""Tests of the benchmark's own code: the expected-document function and
the ETL output checker.

    python3 -m unittest discover -s perfbench/tests

The fixture test builds the program (as run.py does) and runs both ETL
entry points once on the project's fixture CSVs.
"""
import json
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(HERE)), "src", "test", "resources")


def write_output(out_dir, docs):
    """Lay documents out the way the ETL sink does: one directory per
    attempt holding one part file with the JSON array."""
    for attempt, events in docs.items():
        d = os.path.join(out_dir, f"attempt_id={attempt}")
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.txt"), "w") as f:
            f.write("[" + ",".join(events) + "]\n")
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        items, assessments = gen.gen_caliper(os.path.join(self.tmp, "csv"), 7, 30, 30)
        self.items = gen.expected_item_docs(items)
        self.assessments = gen.expected_assessment_docs(assessments)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def output(self, name, docs):
        out = os.path.join(self.tmp, name)
        write_output(out, docs)
        return out

    def test_generated_shape(self):
        self.assertEqual(len(self.items), 30)
        self.assertEqual(len(self.assessments), 30)
        self.assertTrue(all(len(v) == 3 for v in self.assessments.values()))
        n_lo = [len(json.loads(e)["values"]["target"]["learningObjectives"])
                for v in self.items.values() for e in v]
        self.assertIn(2, n_lo)

    def test_correct_output_passes(self):
        self.assertEqual(check.check_docs(self.output("ok", self.items), self.items), [])

    def test_dropped_event_rejected(self):
        docs = dict(self.items)
        attempt = sorted(docs)[3]
        docs[attempt] = docs[attempt][1:]
        self.assertTrue(check.check_docs(self.output("drop", docs), self.items))

    def test_swapped_scores_rejected(self):
        docs = dict(self.assessments)
        for attempt in sorted(docs):
            events = [json.loads(e) for e in docs[attempt]]
            graded = [e for e in events if e["values"]["action"] == "GRADED"][0]
            g = graded["values"]["generated"]
            if g["totalScore"] != g["normalScore"]:
                g["totalScore"], g["normalScore"] = g["normalScore"], g["totalScore"]
                docs[attempt] = sorted(gen.canonical(e) for e in events)
                break
        self.assertNotEqual(docs, self.assessments)
        self.assertTrue(check.check_docs(self.output("swap", docs), self.assessments))

    def test_missing_attempt_rejected(self):
        docs = dict(self.items)
        del docs[sorted(docs)[0]]
        self.assertTrue(check.check_docs(self.output("missing", docs), self.items))


class QueryCheckTest(unittest.TestCase):
    """compare_query applies the project gate's type and row checks."""

    def setUp(self):
        import duckdb
        self.con = duckdb.connect()

    def tearDown(self):
        self.con.close()

    def test_equal_results_pass(self):
        sql = "SELECT i::BIGINT AS k, i / 2 AS v FROM range(5) t(i)"
        self.assertEqual(check.compare_query(self.con, sql, sql), (5, None))

    def test_changed_value_rejected(self):
        n, problem = check.compare_query(
            self.con, "SELECT i::BIGINT AS k FROM range(5) t(i)",
            "SELECT (i + (i = 4)::INT)::BIGINT AS k FROM range(5) t(i)")
        self.assertEqual(n, 5)
        self.assertIn("differs", problem)

    def test_wide_integer_rejected_at_equal_values(self):
        _, problem = check.compare_query(
            self.con, "SELECT i::BIGINT AS k FROM range(5) t(i)",
            "SELECT i::HUGEINT AS k FROM range(5) t(i)")
        self.assertIn("NON-CANONICAL", problem)

    def test_type_class_mismatch_rejected(self):
        _, problem = check.compare_query(
            self.con, "SELECT i::BIGINT AS k FROM range(5) t(i)",
            "SELECT i::DOUBLE AS k FROM range(5) t(i)")
        self.assertIsNotNone(problem)


class FixtureTest(unittest.TestCase):
    """The expected-document function reproduces what the program writes
    for the bundled fixtures, read as input without changing them."""

    def test_fixture_documents(self):
        import run
        cp = run.build()
        tmp = tempfile.mkdtemp()
        try:
            os.makedirs(os.path.join(tmp, "tmp"))
            rc = run.run_jvm(run.jvm_command(cp, os.path.join(tmp, "tmp"), [
                "--workload", "fixtures", "--input", FIXTURES,
                "--out", os.path.join(tmp, "out")]),
                os.path.join(tmp, "jvm.log"), time.time() + 300)
            self.assertEqual(rc, 0)
            items = gen.expected_item_docs(
                gen.read_csv_rows(os.path.join(FIXTURES, "items.csv")))
            assessments = gen.expected_assessment_docs(
                gen.read_csv_rows(os.path.join(FIXTURES, "assessments.csv")))
            self.assertEqual(sorted(items), ["attempt-02", "attempt-03"])
            self.assertEqual(sorted(assessments), ["attempt-02", "attempt-03"])
            self.assertEqual(check.check_docs(os.path.join(tmp, "out", "items"), items), [])
            self.assertEqual(check.check_docs(
                os.path.join(tmp, "out", "assessments"), assessments), [])
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
